package graft

import org.apache.spark.sql.functions._
import graft.ops.{Core, Curation, Decontam, Sampling, Scrub}

/** Training-pipeline operators added in round 6: benchmark decontamination
  * (PII scrubbing and token-budget mixing specs live here too).
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("ingestGate: every verdict fires on its own doc; serve twin equals batch") {
    import graft.ops.{Dedup, IndexTables}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // distinct gopher-green bodies (the gopherGate fixture shape): shared
    // vocabulary across docs would make EVERY doc a legitimate near-dup
    // of the snapshot — each verdict needs its own body
    def body(tag: String) = "the be to of and that have with " +
      (1 to 80).map(i => s"$tag$i ${tag}term$i").mkString(" ")
    val clean = body("word")
    val banner = "subscribe to our newsletter"
    val zebra = body("zebra") + " unique passage about rivers tonight"
    // standing artifacts from the snapshot corpus: line-freq index (banner
    // in 3 docs) + banded MinHash snapshot
    val snapshot = Seq(
      (1L, s"$clean one\n$banner"), (2L, s"$clean two\n$banner"),
      (3L, s"$clean three\n$banner"), (4L, zebra)).toDF("doc_id", "text")
    IndexTables.drop(spark, "ingate_spec_linefreq_b8")
    IndexTables.drop(spark, "ingate_spec_h32_k3_b8_b8")
    val lineIdx = Dedup.lineFreqIndex(snapshot, "ingate_spec")
    val banded = Dedup.bandedIndex(snapshot, "ingate_spec")
    val evalGrams = Decontam.collectEvalGrams(
      Seq((900L, "alpha beta gamma benchmark item")).toDF("doc_id", "text"),
      "text", n = 3)
    val incoming = Seq(
      (101L, s"${body("nov")}\n$banner"),               // banner scrubbed; keep
      (102L, zebra),                                    // near-dup of snapshot 4
      (103L, s"${body("ctm")} alpha beta gamma"),       // quotes the eval set
      (104L, "too short to pass anything"),             // gopher-gated
      (105L, s"${body("pii")} mail someone@example.com")) // PII scrubbed; keep
      .toDF("doc_id", "text")
    val got = Curation.ingestGate(incoming, lineIdx, evalGrams, banded)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size == 5, "every input doc must come back with a verdict")
    def flags(id: Long) = {
      val r = got(id)
      (r.getInt(r.fieldIndex("pass_struct")), r.getInt(r.fieldIndex("pass_rep")),
        r.getInt(r.fieldIndex("contaminated")),
        r.getInt(r.fieldIndex("dup_of_corpus")), r.getInt(r.fieldIndex("keep")))
    }
    assert(flags(101L) == ((1, 1, 0, 0, 1)), flags(101L).toString)
    assert(!got(101L).getString(got(101L).fieldIndex("text")).contains(banner),
      "hot boilerplate line must be removed before the verdict")
    assert(flags(102L) == ((1, 1, 0, 1, 0)), flags(102L).toString)
    assert(flags(103L)._3 == 1 && flags(103L)._5 == 0, flags(103L).toString)
    assert(flags(104L)._1 == 0 && flags(104L)._5 == 0, flags(104L).toString)
    assert(flags(105L) == ((1, 1, 0, 0, 1)), flags(105L).toString)
    val r105 = got(105L)
    assert(r105.getInt(r105.fieldIndex("n_email")) == 1 &&
      r105.getString(r105.fieldIndex("text")).contains("<EMAIL>"))
    // serve twin: per-micro-batch foreachBatch apply ≡ the batch gate
    val in = MemoryStream[(Long, String)](97, spark, None)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    val q = Curation.ingestGateServe(
        in.toDF().toDF("doc_id", "text"), lineIdx, evalGrams, banded) { b =>
      out ++= b.select("doc_id", "keep").as[(Long, Int)].collect()
    }.start()
    try {
      in.addData((101L, s"${body("nov")}\n$banner"), (102L, zebra))
      q.processAllAvailable()
      in.addData((103L, s"${body("ctm")} alpha beta gamma"))
      q.processAllAvailable()
    } finally q.stop()
    assert(out.sortBy(_._1).toSeq == Seq(101L -> 1, 102L -> 0, 103L -> 0))
    // exact-fingerprint variant (the oracled q_ingest_gate form): same
    // verdicts on this fixture — the verbatim re-crawl matches by md5 of
    // the CLEANED text even though its raw text carries no banner
    val fps = Scrub.scrubPii(Dedup.boilerplateScrub(snapshot, minDocs = 3))
      .select(md5($"text").as("fp")).distinct()
    val exact = Curation.ingestGateExact(incoming, lineIdx, evalGrams, fps)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(r.fieldIndex("dup_of_corpus")), r.getInt(r.fieldIndex("keep"))))
      .toMap
    assert(exact(102L) == ((1, 0)), exact(102L).toString)
    assert(exact(101L) == ((0, 1)) && exact(105L) == ((0, 1)))
    // one-row telemetry: 5 in, 2 keeps, 1 gopher reject, 1 contaminated,
    // 1 dup — reasons are independent counts, not a partition
    val summ = Curation.ingestSummary(
        Curation.ingestGateExact(incoming, lineIdx, evalGrams, fps))
      .as[(Long, Long, Long, Long, Long, Double)].head()
    assert(summ == ((5L, 2L, 1L, 1L, 1L, 0.4)), summ.toString)
    IndexTables.drop(spark, "ingate_spec_linefreq_b8")
    IndexTables.drop(spark, "ingate_spec_h32_k3_b8_b8")
  }

  test("creditCardScan: Luhn separates real checksums from off-by-one runs") {
    val docs = Seq(
      (1L, "pay 4111 1111 1111 1111 now"),      // Visa test number: valid
      (2L, "acct 4111111111111112"),            // check digit off: invalid
      (3L, "amex 3782-8224-6310-005 ok"),       // dashed Amex: valid
      (4L, "order 123456789 and phone 555"),    // runs too short: no rows
      (5L, "5555555555554444 and 4012888888881881")) // two valid cards
      .toDF("doc_id", "text")
    val got = Scrub.creditCardScan(docs)
      .as[(Long, String, String, Int)].collect()
    val byDigits = got.map(r => r._3 -> r._4).toMap
    assert(byDigits("4111111111111111") == 1)
    assert(byDigits("4111111111111112") == 0)
    assert(byDigits("378282246310005") == 1)
    assert(byDigits("5555555555554444") == 1)
    assert(byDigits("4012888888881881") == 1)
    assert(!got.exists(_._1 == 4L), "short digit runs must not be candidates")
    // separators are normalized away but preserved in the candidate
    assert(got.find(_._1 == 3L).get._2 == "3782-8224-6310-005")
    // scan-stage contract
    val plan = Scrub.creditCardScan(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("ngrams: exact trigrams, short-doc guard") {
    val toks = Core.tokensUni(lit("a b c d e"))
    val got = spark.range(1).select(Decontam.ngrams(toks, 3).as("g"))
      .as[Seq[String]].head()
    assert(got == Seq("a b c", "b c d", "c d e"))
    // fewer tokens than n → empty, NOT a descending-sequence crash
    val short = spark.range(1)
      .select(Decontam.ngrams(Core.tokensUni(lit("a b")), 3).as("g"))
      .as[Seq[String]].head()
    assert(short.isEmpty)
    val exact = spark.range(1)
      .select(Decontam.ngrams(Core.tokensUni(lit("a b c")), 3).as("g"))
      .as[Seq[String]].head()
    assert(exact == Seq("a b c"))
  }

  test("contaminationCounts: distinct shared grams per doc, zero rows kept") {
    val eval = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      // shares "the quick brown" and "quick brown fox" (2 distinct grams)
      (1L, "we saw the quick brown fox yesterday maybe"),
      (2L, "nothing in common with anything here"),
      // exact duplicate of the eval doc: all 3 of its grams
      (3L, "the quick brown fox jumps"),
      // repeats a shared gram twice — still 1 DISTINCT gram
      (4L, "the quick brown stuff and the quick brown stuff")
    ).toDF("doc_id", "text")
    val got = Decontam.contaminationCounts(train, eval, "doc_id", "text", n = 3)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((2L, 1)), got) // "the quick brown", "quick brown fox"
    assert(got(2L) == ((0L, 0)))
    assert(got(3L) == ((3L, 1)))
    assert(got(4L) == ((1L, 1)))
    assert(got.size == 4) // one row per training doc, zero-overlap included
  }

  test("contaminationFraction normalizes by the doc's own distinct grams") {
    val eval = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "we saw the quick brown fox yesterday maybe"), // 6 grams, 2 shared
      (2L, "nothing in common with anything here"),       // 4 grams, 0 shared
      (3L, "the quick brown fox jumps"),                  // 3 grams, all shared
      (4L, "to")                                          // < n tokens: 0 grams
    ).toDF("doc_id", "text")
    val got = Decontam.contaminationFraction(train, eval, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 6L, 2L, 0.3333)), got(1L))
    assert(got(2L) == ((2L, 4L, 0L, 0.0)))
    assert(got(3L) == ((3L, 3L, 3L, 1.0))) // total memorization reads as 1.0
    assert(got(4L) == ((4L, 0L, 0L, 0.0))) // zero-gram doc: defined, not NaN
  }

  test("scrubContamination removes exactly the covered token spans") {
    val eval = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      // grams "the quick brown" (pos 2) and "quick brown fox" (pos 3) match
      // → covered tokens 2..5 → "we saw ... yesterday maybe" survives
      (1L, "we saw the quick brown fox yesterday maybe"),
      (2L, "nothing in common with anything here"), // untouched: ORIGINAL text
      (3L, "the quick brown fox jumps"),            // fully covered → empty
      // overlapping occurrences of one gram: covered set is a UNION, tokens
      // 0..2 and 4..6 (starts 0 and 4), token 3 ("stuff") survives... plus
      // "and" at 3? grams at starts 0 and 4 cover {0,1,2} ∪ {4,5,6}
      (4L, "the quick brown and the quick brown"),
      (5L, "to") // < n tokens: no grams, passthrough
    ).toDF("doc_id", "text")
    val got = Decontam.scrubContamination(train, eval, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 4L, "we saw yesterday maybe")), got(1L))
    // untouched doc keeps the ORIGINAL string (no tokenize→join rewrite)
    assert(got(2L) == ((2L, 0L, 0L, "nothing in common with anything here")))
    assert(got(3L) == ((3L, 3L, 5L, "")))
    assert(got(4L) == ((4L, 2L, 6L, "and")), got(4L))
    assert(got(5L) == ((5L, 0L, 0L, "to")))
    assert(got.size == 5)
  }

  test("scrubWithGrams: batch parity, and append-mode on a live stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val eval = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "we saw the quick brown fox yesterday maybe"),
      (2L, "nothing in common with anything here"),
      (3L, "the quick brown fox jumps"),
      (4L, "the quick brown and the quick brown"),
      (5L, "to")
    ).toDF("doc_id", "text")
    val grams = graft.ops.Decontam.collectEvalGrams(eval, "text", 3)
    val batch = Decontam.scrubContamination(train, eval, "doc_id", "text", 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    val perRow = Decontam.scrubWithGrams(train, grams, 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(perRow == batch)
    // the same per-row form runs append-mode on a stream, same rows out
    val in = MemoryStream[(Long, String)](97, spark, None)
    val q = Decontam.scrubWithGrams(in.toDS().toDF("doc_id", "text"), grams, 3)
      .writeStream.format("memory").queryName("scrub_stream")
      .outputMode("append").start()
    try {
      in.addData((1L, "we saw the quick brown fox yesterday maybe"),
        (3L, "the quick brown fox jumps"))
      q.processAllAvailable()
      val streamed = spark.table("scrub_stream")
        .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
      assert(streamed == batch.filter(r => Set(1L, 3L)(r._1)))
    } finally q.stop()
  }

  test("decontaminate drops exactly the overlapping docs; eval side broadcasts") {
    val eval = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "we saw the quick brown fox yesterday maybe"),
      (2L, "nothing in common with anything here"),
      (3L, "short doc")
    ).toDF("doc_id", "text")
    val survivors = Decontam.decontaminate(train, eval, "doc_id", "text", n = 3)
    assert(survivors.select("doc_id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // the eval gram set must be the broadcast side (bounded benchmark, not
    // a corpus-scale shuffle)
    val plan = Decontam
      .contaminationCounts(train, eval, "doc_id", "text", n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("semanticContamination catches a paraphrase the n-gram family misses") {
    val eval = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      // same token MULTISET, reordered: zero shared 3-grams, but the
      // hashed bag-of-tokens vector is identical (cosine 1.0) — the
      // paraphrase blind spot semantic decontam exists to close
      (1L, "delta alpha epsilon beta gamma"),
      (2L, "nothing of substance shared here at all")
    ).toDF("doc_id", "text")
    // lexical decontam sees no overlap on the paraphrase
    val lex = Decontam.contaminationCounts(train, eval, "doc_id", "text", n = 3)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> r._3).toMap
    assert(lex(1L) == 0, lex)
    val sem = Decontam.semanticContamination(train, eval, minCos = 0.9)
    val rows = sem.select("vec_id", "max_probe_cos", "is_contam")
      .as[(Long, Option[Double], Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(1L) == ((Some(1.0), 1)), rows)
    assert(rows(2L)._2 == 0, rows)
    assert(rows.size == 2) // every non-zero-norm train doc gets a verdict
    // the eval assignment must be the broadcast side (bounded benchmark)
    val plan = sem.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("preferencePairs: strict best-vs-worst per key, deterministic ties") {
    import graft.ops.Conversations
    val cands = Seq(
      (1L, "p1", 0.9, "best answer"),
      (2L, "p1", 0.1, "worst answer"),
      (3L, "p1", 0.5, "middle"),
      (4L, "p2", 0.7, "tie a"),   // p2: all scores tie → no strict
      (5L, "p2", 0.7, "tie b"),   //   preference → no pair
      (6L, "p3", 0.4, "only one"), // single candidate → no pair
      (7L, "p4", 0.8, "first of tied best"), // chosen tie → lowest id
      (8L, "p4", 0.8, "second of tied best"),
      (9L, "p4", 0.2, "clear loser"))
      .toDF("cand_id", "prompt", "score", "text")
    val got = Conversations
      .preferencePairs(cands, "prompt", "cand_id", "score", "text")
      .as[(String, Long, String, Long, String, Double, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set("p1", "p4"))
    assert(got("p1") == (("p1", 1L, "best answer", 2L, "worst answer", 0.8, 3L)))
    assert(got("p4") == (("p4", 7L, "first of tied best", 9L, "clear loser", 0.6, 3L)))
    // a null-scored candidate must not poison its key: min(struct) would
    // elect it "rejected" and null the strict filter — it is excluded,
    // the non-null candidates still pair, n_cands counts scored only
    val withNull = cands.union(
      Seq((10L, "p1", Option.empty[Double], "unscored"))
        .toDF("cand_id", "prompt", "score", "text"))
    val gn = Conversations
      .preferencePairs(withNull, "prompt", "cand_id", "score", "text")
      .as[(String, Long, String, Long, String, Double, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(gn("p1") == (("p1", 1L, "best answer", 2L, "worst answer", 0.8, 3L)))
  }

  test("stripHtml extracts training text: blocks, tags, entities, whitespace") {
    import graft.ops.Scrub
    val docs = Seq(
      (1L, "<html><head><script>var a = 1 < 2;</script><style>p{x:1}</style>" +
        "</head><body><!-- c --><p>Hello <b>world</b></p></body></html>"),
      (2L, "A &amp;amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end"),
      (3L, "plain text stays untouched"),
      (4L, "<SCRIPT TYPE=module>nested < less</SCRIPT>after"), // case-insensitive
      (5L, "<p>multi\n\nline\t text</p>")
    ).toDF("doc_id", "text")
    val got = docs.select($"doc_id", Scrub.stripHtml($"text").as("t"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "Hello world")
    // &amp; decodes LAST: '&amp;amp;' yields the literal '&amp;', never '&'
    assert(got(2L) == "A &amp; B <tag> \"q\" 's' end")
    assert(got(3L) == "plain text stays untouched")
    assert(got(4L) == "after") // script content with a bare '<' fully removed
    assert(got(5L) == "multi line text")
  }

  test("scrubPii redacts emails, IPv4, phones with exact counts") {
    val docs = Seq(
      (1L, "mail alice.smith+x@sub.example.org and bob@y.co now"),
      (2L, "server at 192.168.0.1 and 10.0.0.255 up"),
      (3L, "call +1 415 555 0100 or +44 (20) 7946-0958 today"),
      (4L, "no pii here at all"),
      // a bare long digit run must NOT be scrubbed (no leading '+')
      (5L, "order 123456789012 shipped"),
      // version strings must NOT match IPv4 (only 3 dots exactly... 1.2.3.4.5
      // DOES contain a 4-octet prefix — documented greedy behavior)
      (6L, "see 1.2.3.4.5")
    ).toDF("doc_id", "text")
    val got = Scrub.scrubPii(docs).as[(Long, String, Int, Int, Int)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == "mail <EMAIL> and <EMAIL> now")
    assert(got(1L)._3 == 2 && got(1L)._4 == 0 && got(1L)._5 == 0)
    assert(got(2L)._2 == "server at <IP> and <IP> up")
    assert(got(2L)._4 == 2)
    assert(got(3L)._2 == "call <PHONE> or <PHONE> today")
    assert(got(3L)._5 == 2)
    assert(got(4L) == ((4L, "no pii here at all", 0, 0, 0)))
    assert(got(5L) == ((5L, "order 123456789012 shipped", 0, 0, 0)))
    assert(got(6L)._4 == 1) // greedy 4-octet prefix of a 5-part version
  }

  test("scrub order: redacted emails are not re-counted as phones; density filter") {
    // the digits inside an email must not survive into the phone pass
    val docs = Seq((1L, "write +15551234567@relay.example.com ok"))
      .toDF("doc_id", "text")
    val r = Scrub.scrubPii(docs).as[(Long, String, Int, Int, Int)].head()
    assert(r._2 == "write <EMAIL> ok" && r._3 == 1 && r._5 == 0)

    val dense = Seq(
      (1L, "a@b.co c@d.co e@f.co"), // directory-page density
      (2L, "one contact a@b.co in a long enough prose paragraph that stays")
    ).toDF("doc_id", "text")
    val kept = Scrub.scrubAndFilter(dense, maxPerKChars = 60.0)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(2L), kept)
  }

  test("normalizeText composes NFC and collapses whitespace") {
    import graft.ops.TextAnalysis
    val decomposedCafe = "cafe\u0301"   // e + combining acute
    val composedCafe = "caf\u00e9"      // precomposed é
    val docs = Seq(
      (1L, s"a  $decomposedCafe\tb "),  // decomposed + tab + trailing space
      (2L, s"a $composedCafe b"),       // already canonical
      (3L, "plain ascii text")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.normalizeText(docs)
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    // both spellings canonicalize to the SAME string — the property that
    // makes fingerprint-dedup see them as duplicates
    assert(got(1L)._2 == s"a $composedCafe b")
    assert(got(1L)._2 == got(2L)._2)
    assert(got(1L)._3 == 11 && got(1L)._4 == 8) // 5-char cafe -> 4-char café
    assert(got(3L) == ((3L, "plain ascii text", 16, 16))) // ASCII fast path
    // fingerprints agree after normalization, differ before
    val fps = docs.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("raw"))
      .join(TextAnalysis.normalizeText(docs).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("norm")), "doc_id")
      .as[(Long, String, String)].collect().map(r => r._1 -> r).toMap
    assert(fps(1L)._2 != fps(2L)._2) // un-normalized: spuriously distinct
    assert(fps(1L)._3 == fps(2L)._3) // normalized: duplicates found
  }

  test("token_ngrams and nfc_normalize are registered as SQL functions") {
    // isolated session: SocketExtensionsSpec asserts the SHARED session's
    // registry stays untouched (session-scoped registration contract)
    val s2 = spark.newSession()
    graft.functions.GraftExtensions.install(s2)
    // decomposed e + U+0301 inlined in the SQL; nfc_normalize must compose
    val row = s2.sql(
      "SELECT nfc_normalize(t) AS t, " +
        "token_ngrams(split(trim(nfc_normalize(t)), ' +'), 2) AS g2, " +
        "token_ngrams(array('x', 'y', 'x', 'y'), 2, true) AS gd " +
        "FROM (SELECT 'a  cafe\u0301 b' AS t)").collect().head
    assert(row.getString(0) == "a  caf\u00e9 b")
    assert(row.getSeq[String](1) == Seq("a caf\u00e9", "caf\u00e9 b"))
    assert(row.getSeq[String](2) == Seq("x y", "y x"))
    // the ROUGE-L LCS kernel rides the same registry
    val lcs = s2.sql(
      "SELECT token_lcs_len(array('a','b','c','d'), array('a','c','b','d')) AS l")
      .collect().head.getInt(0)
    assert(lcs == 3)
  }

  test("wav_frame_rms and ppm_patch_means are registered as SQL functions") {
    val s2 = spark.newSession()
    graft.functions.GraftExtensions.install(s2)
    // a 1x1 red PPM literal fits in hex; non-media bytes give NULL
    val ppmHex = ("P6\n1 1\n255\n".getBytes("US-ASCII") ++
      Array(255.toByte, 0.toByte, 0.toByte)).map("%02x".format(_)).mkString
    val row = s2.sql(
      s"SELECT ppm_patch_means(unhex('$ppmHex'), 16) AS p, " +
        "wav_frame_rms(unhex('00112233'), 4) AS r").collect().head
    val p = row.getSeq[org.apache.spark.sql.Row](0)
    assert(p.size == 1 && p.head.getDouble(2) == 255.0)
    assert(row.isNullAt(1)) // not a WAV \u2192 honest NULL through SQL too
  }

  test("int8 quantization: error bounded by scale/2, exact golden, zero-vec excluded") {
    import graft.ops.Similarity
    val emb = Seq(
      (1L, Seq(127.0f, -127.0f, 63.5f, 0.0f)), // scale 1: representable exactly except 63.5
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),       // zero vector: excluded
      (3L, Seq(0.02f, -0.013f, 0.007f, 0.001f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8Stats(emb)
      .as[(Long, Double, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(!got.contains(2L)) // no direction, no quantization row
    // vec 1: scale = 1.0; 63.5 -> floor(64.0) = 64 -> err 0.5 = scale/2
    assert(got(1L)._2 == 1.0 && got(1L)._3 == 0.5, got(1L))
    // quantization error can never exceed half a step (scale/2), and the
    // RMSE never exceeds the max
    for ((_, scale, maxErr, rmse) <- got.values) {
      assert(maxErr <= scale / 2 + 1e-9, got)
      assert(rmse <= maxErr + 1e-9, got)
    }
  }

  test("int8 artifact keeps every vec_id; zero vectors round-trip to zero") {
    import graft.ops.Similarity
    val emb = Seq(
      (1L, Seq(1.0f, -2.0f)),
      (2L, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(emb)
      .as[(Long, Double, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(1L, 2L)) // a stored table must not lose rows
    assert(got(1)._2 == 0.0 && got(1)._3 == Seq(0, 0))
    assert(got(0)._3 == Seq(64, -127))
  }

  test("int8 artifact treats NaN/Inf vectors as degenerate (scale 0, zero codes)") {
    import graft.ops.Similarity
    // Spark orders NaN above every double, so a bare `ma > 0` guard would
    // quantize these into NaN scales/codes; the documented contract is the
    // zero-vector branch
    val emb = Seq(
      (1L, Seq(Float.NaN, 1.0f)),
      (2L, Seq(Float.PositiveInfinity, -1.0f)),
      (3L, Seq(2.0f, -1.0f))) // control: finite vector quantizes normally
      .toDF("vec_id", "embedding")
    val art = Similarity.quantizeInt8(emb)
      .as[(Long, Double, Seq[Int])].collect().map(r => r._1 -> r).toMap
    assert(art(1L)._2 == 0.0 && art(1L)._3 == Seq(0, 0), art(1L))
    assert(art(2L)._2 == 0.0 && art(2L)._3 == Seq(0, 0), art(2L))
    // -1/(2/127) = -63.5 → floor(-63.5 + 0.5) = -63 (floor-of-shifted,
    // not half-even round)
    assert(art(3L)._2 == 2.0 / 127.0 && art(3L)._3 == Seq(127, -63), art(3L))
    // and the stats REPORT excludes them like zero vectors
    val stats = Similarity.quantizeInt8Stats(emb)
      .select("vec_id").as[Long].collect().toSet
    assert(stats == Set(3L))
  }

  test("int8 round-trip preserves top-k neighbors on seeded random vectors") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 100).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val emb = vecs.toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(emb)
      .select(col("vec_id"), col("scale"), col("q"))
      .as[(Long, Double, Seq[Int])].collect()
      .map { case (id, sc, codes) => id -> codes.map(_ * sc) }.toMap
    assert(q.values.forall(_.size == 16))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val exact = vecs.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    def top5(space: Map[Long, Seq[Double]], qid: Long): Seq[Long] =
      space.toSeq.filter(_._1 != qid)
        .sortBy { case (id, v) => (-cos(space(qid), v), id) }
        .take(5).map(_._1)
    // per-vector scale keeps quantization error ~0.4 % of the range; the
    // neighbor ranking should be nearly untouched
    val overlaps = (0L until 10L).map { qid =>
      top5(exact, qid).toSet.intersect(top5(q, qid).toSet).size
    }
    assert(overlaps.sum >= 45, overlaps) // >= 4.5/5 mean recall@5
  }

  test("renderConversations orders turns by event time with id tie-break") {
    import graft.ops.Conversations
    import java.sql.Timestamp
    val events = Seq(
      (2L, new Timestamp(2000L), 7L, "assistant", 0.0, "{\"a\":1}"),
      (1L, new Timestamp(1000L), 7L, "user", 0.0, "{\"q\":1}"),
      (3L, new Timestamp(2000L), 7L, "tool", 0.0, "{\"t\":1}"), // ts tie → id order
      (4L, new Timestamp(500L), 9L, "user", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Conversations.render(events)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(7L)._2 == 3L)
    assert(got(7L)._3 ==
      "[user#1] {\"q\":1}\n[assistant#2] {\"a\":1}\n[tool#3] {\"t\":1}")
    assert(got(9L)._3 == "[user#4] {}")
  }

  test("lossMaskSpans slice exactly the trainable lines of the rendered text") {
    import graft.ops.Conversations
    import java.sql.Timestamp
    val events = Seq(
      (1L, new Timestamp(1000L), 7L, "user", 0.0, "{\"q\":1}"),
      (2L, new Timestamp(2000L), 7L, "assistant", 0.0, "{\"a\":1}"),
      (3L, new Timestamp(2000L), 7L, "tool", 0.0, "{\"t\":1}"),
      (4L, new Timestamp(3000L), 7L, "assistant", 0.0, "{\"a\":2}"),
      (5L, new Timestamp(500L), 9L, "user", 0.0, "{}"), // no trainable turn
      (6L, new Timestamp(600L), 9L, "assistant", 0.0, "{\"z\":9}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val spans = Conversations.lossMaskSpans(events, Seq("assistant"))
      .as[(Long, Int, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val text = Conversations.render(events)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    // the alignment invariant: every span substring IS its turn's line
    assert(spans.nonEmpty)
    spans.foreach { case (uid, _, eid, st, en) =>
      val slice = text(uid).substring(st.toInt, en.toInt)
      assert(slice.startsWith("[assistant#" + eid + "] "), (uid, eid, slice))
      assert(!slice.contains("\n"), slice)
    }
    // user 7: assistant turns are lines 2 and 4 of the render; k is the
    // ordinal among TRAINABLE turns only
    assert(spans.filter(_._1 == 7L).map(r => (r._2, r._3)).toSeq ==
      Seq((0, 2L), (1, 4L)))
    // masked turns still advance the cursor: user 9's single trainable
    // span starts after the untrained "[user#5] {}" line + newline
    val u9 = spans.filter(_._1 == 9L)
    assert(u9.map(r => (r._2, r._3)).toSeq == Seq((0, 6L)))
    assert(u9.head._4 == "[user#5] {}".length + 1L, u9.head)
  }

  test("fimTransform and interleaveMedia run unchanged on a live stream " +
      "(stateless scan-stage ops)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.{Multimodal, Packing}
    val rows = Seq((1L, "a b c d e f g h"), (2L, "i j k"), (3L, "l m n o p"))
    val assign = Seq((1L, 10L), (3L, 5L)).toDF("doc_id", "media_id")
    val in = MemoryStream[(Long, String)](93, spark, None)
    val docs = in.toDS().toDF("doc_id", "text")
    val fimQ = Packing.fimTransform(docs, fimRate = 0.5)
      .writeStream.format("memory").queryName("fim_stream")
      .outputMode("append").start()
    // interleave's slots side is a static aggregate — stream-static join
    val ilQ = Multimodal.interleaveMedia(docs, assign)
      .writeStream.format("memory").queryName("il_stream")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      fimQ.processAllAvailable(); ilQ.processAllAvailable()
      val batchDf = rows.toDF("doc_id", "text")
      val fimBatch = Packing.fimTransform(batchDf, fimRate = 0.5)
        .as[(Long, Int, String)].collect().sortBy(_._1).toSeq
      val fimStream = spark.table("fim_stream")
        .as[(Long, Int, String)].collect().sortBy(_._1).toSeq
      assert(fimStream == fimBatch)
      val ilBatch = Multimodal.interleaveMedia(batchDf, assign)
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      val ilStream = spark.table("il_stream")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      assert(ilStream == ilBatch)
    } finally { fimQ.stop(); ilQ.stop() }
  }

  test("chunkTokens and the bloom prefilter run unchanged on a live stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.{BloomJoin, Packing}
    val blocklist = Seq("known bad doc text", "another listed doc")
      .toDF("text")
    val bloom = BloomJoin.buildBloom(blocklist, col("text"))

    val rows = Seq(
      (1L, "known bad doc text"),
      (2L, "a fresh document with enough tokens to chunk twice over"))
    val in = MemoryStream[(Long, String)](91, spark, None)
    val docs = in.toDS().toDF("doc_id", "text")
    val chunkQ = Packing.chunkTokens(docs, chunkSize = 4, stride = 4)
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    val flagQ = docs.select(col("doc_id"),
        BloomJoin.mightContain(bloom, col("text")).cast("int").as("listed"))
      .writeStream.format("memory").queryName("bloom_stream")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      chunkQ.processAllAvailable(); flagQ.processAllAvailable()
      val batchChunks = Packing.chunkTokens(rows.toDF("doc_id", "text"), 4, 4)
        .as[(Long, Int, Int, Int, String)].collect().toSet
      val gotChunks = spark.table("chunk_stream")
        .as[(Long, Int, Int, Int, String)].collect().toSet
      assert(gotChunks == batchChunks && gotChunks.size == 4, gotChunks)
      val gotFlags = spark.table("bloom_stream").as[(Long, Int)]
        .collect().toMap
      assert(gotFlags == Map(1L -> 1, 2L -> 0), gotFlags)
    } finally { chunkQ.stop(); flagQ.stop() }
  }

  test("winnowOverlapFlag: streaming twin agrees with batch winnowPairs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.Dedup
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val refSet = Seq((100L, s"reference doc holding $run verbatim"))
      .toDF("doc_id", "text")
    val fps = Dedup.collectWinnowFingerprints(refSet)
    assert(fps.nonEmpty)

    val rows = Seq(
      (1L, s"prefix words then $run appears shifted here"), // overlaps ref
      (2L, "entirely unrelated content with no shared spans"),
      (3L, "!!! ???")) // zero grams → false, not null
    val in = MemoryStream[(Long, String)](92, spark, None)
    val q = in.toDS().toDF("doc_id", "text")
      .select(col("doc_id"),
        Dedup.winnowOverlapFlag(col("text"), fps).cast("int").as("flagged"))
      .writeStream.format("memory").queryName("winnow_stream")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("winnow_stream").as[(Long, Int)].collect().toMap
      assert(got == Map(1L -> 1, 2L -> 0, 3L -> 0), got.toString)
    } finally q.stop()
  }

  test("qualityPercentile keeps the top fraction within each stratum") {
    import graft.ops.TextAnalysis
    // srcA: clean prose of growing length (longer → higher logit);
    // srcB: all punctuation junk except one clean doc
    val docs = ((1 to 10).map(i =>
        (i.toLong, ("the quick brown fox jumps " * i).trim, "srcA")) ++
      (11 to 14).map(i => (i.toLong, "!!! ??? *** !!!", "srcB")) ++
      Seq((15L, "a clear and useful sentence of text", "srcB")))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.qualityPercentile(docs, "source", keepFrac = 0.3)
      .select("doc_id", "source", "keep").as[(Long, String, Int)]
      .collect()
    val keptA = got.filter(r => r._2 == "srcA" && r._3 == 1).map(_._1).toSet
    // cume_dist > 0.7 over 10 rows keeps ranks 8,9,10 → longest docs
    assert(keptA == Set(8L, 9L, 10L), keptA.toString)
    // the one clean srcB doc must be kept — trimmed against its own
    // stratum, not srcA's distribution
    val keptB = got.filter(r => r._2 == "srcB" && r._3 == 1).map(_._1).toSet
    assert(keptB.contains(15L), keptB.toString)
  }

  test("qualityPercentile: identical docs tie and share the keep verdict") {
    import graft.ops.TextAnalysis
    val docs = (1 to 4).map(i => (i.toLong, "same text here", "s"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.qualityPercentile(docs, "source", 0.5)
      .select("pctl", "keep").as[(Double, Int)].collect().toSeq
    assert(got.toSet.size == 1, got.toString) // one tie group, one verdict
    assert(got.head._2 == 1) // the whole tie group IS the top, so kept
  }

  test("qualityPercentile never wholesale-deletes a single-doc stratum") {
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "a perfectly reasonable document from a small source", "tiny"),
      (2L, "big source doc one with useful words", "big"),
      (3L, "big source doc two with more useful words in it", "big"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.qualityPercentile(docs, "source", keepFrac = 0.5)
      .select("doc_id", "keep").as[(Long, Int)].collect().toMap
    // percent_rank-based gates give the lone doc rank 0 and delete it;
    // cume_dist gives it 1.0 — kept at any keepFrac
    assert(got(1L) == 1, got.toString)
  }

  test("quality classifier matches the closed-form logistic score") {
    import graft.ops.TextAnalysis
    val text = "The cat sat on the mat today again and again"
    val docs = Seq((1L, text), (2L, "x!!!")).toDF("doc_id", "text")
    val got = TextAnalysis.qualityClassifierScore(docs)
      .as[(Long, Double, Int)].collect().map(r => r._1 -> r).toMap
    // plain-Scala model on doc 1: 10 tokens, 35 letter chars, stopwords
    // {the, on, the, and} = 4, non-alnum = 9 spaces of 44 chars
    val (bias, wLog, wAvg, wStop, wNon, keepT) = TextAnalysis.QUALITY_W
    val z = bias + wLog * math.log1p(10) + wAvg * (35.0 / 10) +
      wStop * (4.0 / 10) + wNon * (9.0 / 44)
    val score = 1.0 / (1.0 + math.exp(-z))
    val rounded = BigDecimal(score)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L)._2 == rounded, s"${got(1L)} vs $score")
    assert(got(1L)._3 == (if (score >= keepT) 1 else 0))
    // a punctuation-heavy near-empty doc must score lower and be dropped
    assert(got(2L)._2 < got(1L)._2 && got(2L)._3 == 0, got(2L))
  }

  /** Plain-Scala twin of Sampling.hashKey (salt ""). */
  private def hk(id: Long): String =
    "0" + java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)

  private val mixDocs = (0L until 30L).map { i =>
    (i, if (i % 2 == 0) "web" else "code", Seq.fill((i % 5).toInt + 1)("tok").mkString(" "))
  }

  test("tokenBudgetMix keeps the greedy hash-order prefix within each budget") {
    val docs = mixDocs.toDF("doc_id", "source", "text")
    val budgets = Map("web" -> 12L)
    val got = Sampling.tokenBudgetMix(docs, "source", "doc_id",
      budgets, defaultBudget = 7L)
      .select("source", "doc_id", "n_tokens", "cum_tokens")
      .as[(String, Long, Int, Long)].collect()
      .groupBy(_._1).map { case (s, rs) => s -> rs.sortBy(_._4).toSeq }

    // reference model: per source, hash-order greedy prefix under budget
    val expected = mixDocs.groupBy(_._2).map { case (s, ds) =>
      val budget = budgets.getOrElse(s, 7L)
      val ordered = ds.sortBy { case (id, _, _) => (hk(id), id) }
      var cum = 0L
      val keep = ordered.takeWhile { case (id, _, t) =>
        cum += t.split(" ").length; cum <= budget
      }
      s -> keep.map(_._1)
    }
    for ((s, ids) <- expected) {
      assert(got.getOrElse(s, Nil).map(_._2) == ids, s"source $s")
      val cums = got(s).map(_._4)
      assert(cums == cums.sorted && cums.forall(_ <= budgets.getOrElse(s, 7L)))
    }
    // determinism across runs
    val again = Sampling.tokenBudgetMix(docs, "source", "doc_id",
      budgets, defaultBudget = 7L).collect().toSet
    assert(again == Sampling.tokenBudgetMix(docs, "source", "doc_id",
      budgets, defaultBudget = 7L).collect().toSet)
  }

  test("tokenBudgetMix prefilter is transparent when it admits the budget prefix") {
    val docs = mixDocs.toDF("doc_id", "source", "text")
    // precondition: the 0.5-rate admitted set must itself carry more
    // tokens than any budget, else the comparison below is vacuous
    val thr = "0" + f"${math.round(0.5 * 4294967296L.toDouble)}%08x"
    val admitted = mixDocs.filter { case (id, _, _) => hk(id) < thr }
      .groupBy(_._2).map { case (s, ds) => s -> ds.map(_._3.split(" ").length).sum }
    assert(admitted.values.forall(_ > 12), admitted)

    def run(rate: Double) = Sampling.tokenBudgetMix(docs, "source", "doc_id",
      Map("web" -> 12L), defaultBudget = 7L,
      defaultPrefilterRate = rate).collect().toSet
    // the prefilter thresholds the SAME hash the trim orders by, so the
    // admitted set is exactly the hash-order prefix — phase 1 cannot
    // change the result while it admits at least the budget's worth
    assert(run(0.5) == run(1.0))
  }

  test("cleanCorpusV4Stats: every stage drops its designated document") {
    val base = (1 to 20).map(i => s"w$i").mkString(" ") // 20 distinct tokens
    val nearDup = ((1 to 19).map(i => s"w$i") :+ "zz").mkString(" ")
    val docs = Seq(
      (1L, base, "en", "srcA"),               // survives everything
      (2L, base, "en", "srcA"),               // exact dup of 1 → s3
      (3L, nearDup, "en", "srcA"),            // jaccard 19/21 ≈ 0.905 → s4
      (4L, "mu nu xi plus other totally unrelated content words here now",
        "en", "srcA"),                        // shares eval trigram → s5
      (5L, "tiny", "en", "srcA")              // < 10 tokens → s2
    ).toDF("doc_id", "text", "lang", "source")
    val evalSet = Seq((100L, "mu nu xi omicron pi rho")).toDF("doc_id", "text")
    val got = Curation.cleanCorpusV4Stats(docs, evalSet, contamN = 3)
      .as[(String, Long)].collect().toMap
    assert(got == Map(
      "s1_raw" -> 5L, "s2_quality" -> 4L, "s3_exact_dedup" -> 3L,
      "s4_near_dedup" -> 2L, "s5_decontam" -> 1L,
      "s6_spans_total" -> 1L, "s6_spans_kept" -> 1L), got)
    // v3 on the same fixture: no decontam stage, doc 4 reaches the spans
    val v3 = Curation.cleanCorpusV3Stats(docs).as[(String, Long)].collect().toMap
    assert(v3("s4_near_dedup") == 2L && v3("s5_spans_total") == 2L, v3)
  }

  test("cleanCorpusV5Stats: the perplexity stage drops the high-surprisal tail") {
    // five docs share 9 of 10 tokens (pairwise jaccard 0.818 < the 0.9
    // SNM bar) and TIE on surprisal — strict-below bucketing parks them
    // all in bucket 1; the all-singleton doc C has 5/6 of the corpus
    // strictly below it → bucket floor(5·5/6)+1 = 5 → dropped at s6
    // while the tied five survive to the span stage
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota"
    val docs = ((1 to 5).map(i => (i.toLong, s"$shared u$i", "en", "s")) :+
      ((6L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10", "en", "s")))
      .toDF("doc_id", "text", "lang", "source")
    val evalSet = Seq((100L, "zz1 zz2 zz3 zz4")).toDF("doc_id", "text")
    val got = Curation.cleanCorpusV5Stats(docs, evalSet, contamN = 3)
      .as[(String, Long)].collect().toMap
    assert(got == Map(
      "s1_raw" -> 6L, "s2_quality" -> 6L, "s3_exact_dedup" -> 6L,
      "s4_near_dedup" -> 6L, "s5_decontam" -> 6L, "s6_perplexity" -> 5L,
      "s7_spans_total" -> 5L, "s7_spans_kept" -> 5L), got.toString)
    // an all-tied corpus (every doc the same surprisal) keeps EVERYTHING
    // at the perplexity stage — the tie-safe guarantee
    val homogeneous = (1 to 4)
      .map(i => (i.toLong, s"$shared v$i w$i", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val hg = Curation.cleanCorpusV5Stats(homogeneous, evalSet, contamN = 3)
      .as[(String, Long)].collect().toMap
    assert(hg("s5_decontam") == 4L && hg("s6_perplexity") == 4L, hg.toString)
  }

  test("bitsPerByte: uniform vocabulary gives exactly log2(V) bits per token") {
    import graft.ops.TextAnalysis
    // 4 equally frequent words -> every token costs exactly 2 bits
    val docs = Seq(
      (1L, "aa bb cc dd"),
      (2L, "dd cc bb aa")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.bitsPerByte(docs)
      .as[(Long, Long, Long, Double, Double)].head()
    assert(r._1 == 2L && r._2 == 8L, r)        // 2 docs, 8 tokens
    assert(r._3 == 22L, r)                      // 11 ASCII bytes per doc
    assert(math.abs(r._4 - 2.0) < 1e-3, r)      // log2(4) (avg rounded @4)
    assert(math.abs(r._5 - 16.0 / 22.0) < 1e-3, r)
  }

  test("sourceDupMatrix: shared grams off-diagonal, internal repeats on it") {
    import graft.ops.Dedup
    val shared = "a b c d e f g h" // one 8-gram
    val docs = Seq(
      (1L, s"$shared tail1", "A"),
      (2L, s"$shared tail2", "B"),          // A-B share the gram
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8", "C"), // disjoint
      (4L, s"$shared again $shared", "A")   // A repeats it internally
    ).toDF("doc_id", "text", "source")
    val got = Dedup.sourceDupMatrix(docs, k = 8)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("A", "B")) == 1L, got)
    assert(got(("A", "A")) == 1L, got)      // the internally repeated gram
    assert(!got.keySet.exists(p => p._1 == "C" || p._2 == "C"), got)
  }

  test("cleanCorpusV8Stats: the semantic stage drops the paraphrase s5 misses") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota"
    val evalSet = Seq((100L, s"$shared kappa")).toDF("doc_id", "text")
    val docs = Seq(
      // reordered eval vocabulary: zero shared 3-grams (survives the
      // lexical s5) but hashed-vector cosine ~1 (dropped at s6)
      (1L, "kappa iota theta eta zeta epsilon delta gamma beta alpha", "en", "s"),
      // disjoint vocabulary: survives both decontam stages
      (2L, "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10", "en", "s"),
      // verbatim eval prefix: shares 3-grams, dropped at the LEXICAL s5
      (3L, s"$shared more words here", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val got = Curation.cleanCorpusV8Stats(docs, evalSet, contamN = 3,
        pplRates = Seq(1.0, 1.0, 1.0, 1.0, 1.0), semMinCos = 0.9)
      .as[(String, Long)].collect().toMap
    assert(got("s4_near_dedup") == 3L, got.toString)
    assert(got("s5_decontam") == 2L, got.toString)     // doc 3 out (lexical)
    assert(got("s6_sem_decontam") == 1L, got.toString) // doc 1 out (semantic)
    assert(got("s7_perplexity") == 1L, got.toString)   // all-ones: no-op
  }

  test("recipe prefix table: a standing table reads like the one built inline") {
    // v5 and v8 read ONE decision table whether the caller passes it as a
    // standing artifact (the public builders) or the recipe builds it from
    // the corpus — both forms must report identical stage counts
    def stats(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long)].collect().toMap
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota"
    // the v5 fixture: five tied docs plus the singleton-vocab tail doc
    val docs5 = ((1 to 5).map(i => (i.toLong, s"$shared u$i", "en", "s")) :+
      ((6L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10", "en", "s")))
      .toDF("doc_id", "text", "lang", "source")
    val eval5 = Seq((100L, "zz1 zz2 zz3 zz4")).toDF("doc_id", "text")
    val standing5 = Curation.recipePrefixDecisions(docs5, eval5, contamN = 3)
    val v5 = stats(Curation.cleanCorpusV5Stats(docs5, eval5, contamN = 3))
    assert(stats(Curation.cleanCorpusV5Stats(docs5, eval5, contamN = 3,
      prefix = Some(standing5))) == v5, v5.toString)
    assert(v5("s6_perplexity") == 5L, v5.toString)
    // the v8 fixture: a lexical, a semantic and a clean survivor
    val eval8 = Seq((100L, s"$shared kappa")).toDF("doc_id", "text")
    val docs8 = Seq(
      (1L, "kappa iota theta eta zeta epsilon delta gamma beta alpha", "en", "s"),
      (2L, "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10", "en", "s"),
      (3L, s"$shared more words here", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val ones = Seq(1.0, 1.0, 1.0, 1.0, 1.0)
    val standing8 = Curation.recipePrefixSemExtend(
      Curation.recipePrefixDecisions(docs8, eval8, contamN = 3),
      docs8, eval8, semMinCos = 0.9)
    val v8 = stats(Curation.cleanCorpusV8Stats(docs8, eval8, contamN = 3,
      pplRates = ones, semMinCos = 0.9))
    assert(stats(Curation.cleanCorpusV8Stats(docs8, eval8, contamN = 3,
      pplRates = ones, semMinCos = 0.9, prefix = Some(standing8))) == v8,
      v8.toString)
    assert(v8("s6_sem_decontam") == 1L, v8.toString)
  }

  test("semanticContaminationServe: per-batch flags equal the batch decision") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val eval = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val rows = Seq(
      (1L, "delta alpha epsilon beta gamma"), // paraphrase -> flagged
      (2L, "nothing similar here whatsoever"),
      (3L, "alpha beta gamma delta epsilon"), // verbatim -> flagged
      (4L, "unrelated batch two content entirely"))
    val in = MemoryStream[(Long, String)](92, spark, None)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Double], Int)]()
    val q = Decontam.semanticContaminationServe(
        in.toDF().toDF("doc_id", "text"), eval, minCos = 0.9) { batch =>
      out ++= batch.as[(Long, Long, Option[Double], Int)].collect()
    }.start()
    val (b1, b2) = rows.splitAt(2)
    try {
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val expected = Decontam
      .semanticContamination(rows.toDF("doc_id", "text"), eval, minCos = 0.9)
      .as[(Long, Long, Option[Double], Int)].collect().sortBy(_._1).toSeq
    assert(out.sortBy(_._1).toSeq == expected)
    assert(out.filter(_._4 == 1).map(_._1).toSet == Set(1L, 3L), out)
  }

  test("cleanCorpusV6Stats: fractional rates thin buckets; all-ones = no cut") {
    // same fixture as the v5 spec: five tied docs in bucket 1, the
    // singleton-vocab doc 6 in bucket 5
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota"
    val docs = ((1 to 5).map(i => (i.toLong, s"$shared u$i", "en", "s")) :+
      ((6L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10", "en", "s")))
      .toDF("doc_id", "text", "lang", "source")
    val evalSet = Seq((100L, "zz1 zz2 zz3 zz4")).toDF("doc_id", "text")
    // all-ones rates: the stage must be a no-op (6 of 6 survive) — the
    // fractional machinery degrades exactly to "keep everything"
    val open = Curation.cleanCorpusV6Stats(docs, evalSet, contamN = 3,
        pplRates = Seq(1.0, 1.0, 1.0, 1.0, 1.0))
      .as[(String, Long)].collect().toMap
    assert(open("s6_perplexity") == 6L, open.toString)
    // rate 0 on bucket 5 reproduces v5's hard cut on this fixture
    val hard = Curation.cleanCorpusV6Stats(docs, evalSet, contamN = 3,
        pplRates = Seq(1.0, 1.0, 1.0, 1.0, 0.0))
      .as[(String, Long)].collect().toMap
    assert(hard("s6_perplexity") == 5L, hard.toString)
    // a fractional tail rate keeps a hash-selected SUBSET of bucket 1's
    // five docs when applied there (deterministic: same result twice)
    val thin = Curation.cleanCorpusV6Stats(docs, evalSet, contamN = 3,
        pplRates = Seq(0.5, 1.0, 1.0, 1.0, 0.0))
      .as[(String, Long)].collect().toMap
    val kept = thin("s6_perplexity")
    assert(kept < 5L, thin.toString) // some of the five thinned away
    val again = Curation.cleanCorpusV6Stats(docs, evalSet, contamN = 3,
        pplRates = Seq(0.5, 1.0, 1.0, 1.0, 0.0))
      .as[(String, Long)].collect().toMap
    assert(again("s6_perplexity") == kept, again.toString)
  }

  test("v7 shape: substring scrub ahead of the recipe changes a quality verdict") {
    import graft.ops.Dedup
    // doc 11 is ten distinctive tokens + a 10-token run duplicated from
    // doc 10: pre-scrub it passes the >=10-token quality gate, post-scrub
    // it still does (10 own tokens); doc 12 is ONLY the duplicated run
    // plus two fillers — pre-scrub 12 tokens (passes), post-scrub 2
    // (fails). The scrub stage must flip doc 12's verdict and only it.
    val run = (1 to 10).map(i => s"dup$i").mkString(" ")
    val own = (1 to 10).map(i => s"own$i").mkString(" ")
    val docs = Seq(
      (10L, run + " tail1 tail2 tail3 tail4 tail5 tail6 tail7 tail8 tail9 tail10"),
      (11L, own + " " + run),
      (12L, run + " f1 f2")).toDF("doc_id", "text")
    val evalSet = Seq((100L, "zz1 zz2 zz3 zz4")).toDF("doc_id", "text")
    def qualityCount(input: org.apache.spark.sql.DataFrame): Long =
      Curation.cleanCorpusV6Stats(input, evalSet, contamN = 3,
        pplRates = Seq(1.0, 1.0, 1.0, 1.0, 1.0))
        .as[(String, Long)].collect().toMap.apply("s2_quality")
    assert(qualityCount(docs) == 3L)
    val scrubbed = Dedup.substringScrub(docs, k = 8)
      .select(col("doc_id"), col("text"))
    assert(qualityCount(scrubbed) == 2L) // doc 12 gone, 10 and 11 survive
  }

  test("stripHtml and epochUpsample run unchanged on a live stream " +
      "(stateless scan-stage ops — the streaming-ingest curation shape)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.{Sampling, Scrub}
    val rows = Seq(
      (1L, "web", "<p>Hello <b>world</b></p><!-- x -->"),
      (2L, "web", "A &amp; B plain"),
      (3L, "code", "keep as is"),
      (4L, "drop", "never appears"))
    val in = MemoryStream[(Long, String, String)](91, spark, None)
    val docs = in.toDS().toDF("doc_id", "source", "text")
    val cleaned = Sampling.epochUpsample(
      docs.select(col("doc_id"), col("source"),
        Scrub.stripHtml(col("text")).as("text")),
      "source", Map("web" -> 2.0, "drop" -> 0.0), defaultEpochs = 1.0)
    val q = cleaned.writeStream.format("memory").queryName("strip_stream")
      .outputMode("append").start()
    try {
      in.addData(rows.take(2): _*); q.processAllAvailable()
      in.addData(rows.drop(2): _*); q.processAllAvailable()
      val got = spark.table("strip_stream")
        .as[(Long, String, String, Int)].collect().toSet
      // batch twin on the same rows, bit for bit
      val batch = Sampling.epochUpsample(
        rows.toDF("doc_id", "source", "text")
          .select(col("doc_id"), col("source"),
            Scrub.stripHtml(col("text")).as("text")),
        "source", Map("web" -> 2.0, "drop" -> 0.0), defaultEpochs = 1.0)
        .as[(Long, String, String, Int)].collect().toSet
      assert(got == batch, got)
      assert(got.count(_._1 == 1L) == 2) // web: exactly 2 epochs
      assert(got.exists(r => r._1 == 1L && r._3 == "Hello world"))
      assert(!got.exists(_._2 == "drop"))
    } finally q.stop()
  }

  test("PII scrub and the contamination flag run unchanged on a live stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val evalSet = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val grams = Decontam.collectEvalGrams(evalSet, "text", 3)
    assert(grams.sorted == Seq("brown fox jumps", "quick brown fox", "the quick brown"))

    val rows = Seq(
      (1L, "we saw the quick brown fox cross a@b.co today"), // contaminated + email
      (2L, "server 10.0.0.1 says hello world"),              // clean + ip
      (3L, "nothing special at all here"))                   // clean
    val in = MemoryStream[(Long, String)](90, spark, None)
    val docs = in.toDS().toDF("doc_id", "text")
    val scrubQ = Scrub.scrubPii(docs).writeStream.format("memory")
      .queryName("pii_stream").outputMode("append").start()
    val flagQ = docs.select(col("doc_id"),
        Decontam.contaminatedFlag(col("text"), grams, 3).cast("int").as("contaminated"))
      .writeStream.format("memory").queryName("flag_stream")
      .outputMode("append").start()
    try {
      in.addData(rows.take(2): _*); scrubQ.processAllAvailable(); flagQ.processAllAvailable()
      in.addData(rows.drop(2): _*); scrubQ.processAllAvailable(); flagQ.processAllAvailable()

      // streamed result == the batch operator on the same rows, bit for bit
      val batchScrub = Scrub.scrubPii(rows.toDF("doc_id", "text"))
        .as[(Long, String, Int, Int, Int)].collect().toSet
      val gotScrub = spark.table("pii_stream")
        .as[(Long, String, Int, Int, Int)].collect().toSet
      assert(gotScrub == batchScrub, gotScrub)
      assert(gotScrub.find(_._1 == 1L).get._2.endsWith("<EMAIL> today"))

      val gotFlag = spark.table("flag_stream").as[(Long, Int)].collect().toMap
      assert(gotFlag == Map(1L -> 1, 2L -> 0, 3L -> 0), gotFlag)
      // ...and the flag agrees with the batch anti-join survivors
      val batchSurvivors = Decontam.decontaminate(
        rows.toDF("doc_id", "text"), evalSet, "doc_id", "text", 3)
        .select("doc_id").as[Long].collect().toSet
      assert(batchSurvivors == gotFlag.collect { case (id, 0) => id }.toSet)
    } finally { scrubQ.stop(); flagQ.stop() }
  }

  test("kAnonymityAudit: groups below k flagged, exact sizes") {
    val rows = Seq.fill(5)(("US", "A")) ++ Seq.fill(3)(("US", "B")) ++
      Seq(("FR", "A"))
    val got = Scrub.kAnonymityAudit(
      rows.toDF("country", "seg"), Seq("country", "seg"), k = 4)
      .as[(String, String, Long, Int)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got == Map(("US", "A") -> ((5L, 0)), ("US", "B") -> ((3L, 1)),
      ("FR", "A") -> ((1L, 1))))
  }

  test("lDiversityAudit: homogeneous sensitive values flagged below l") {
    val rows = Seq(("US", "cancer"), ("US", "cancer"), ("US", "cancer"),
      ("FR", "flu"), ("FR", "cancer"))
    val got = Scrub.lDiversityAudit(
      rows.toDF("country", "dx"), Seq("country"), "dx", l = 2)
      .as[(String, Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // US: 3 rows, ONE distinct diagnosis -> the homogeneity leak
    assert(got == Map("US" -> ((3L, 1L, 1)), "FR" -> ((2L, 2L, 0))))
  }
}
