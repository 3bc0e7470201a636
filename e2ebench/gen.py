"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed (and, for the stream, of the
run length): the same arguments write byte-identical parquet files. The
traffic properties each generator uses are returned as a dict so the runner
can print them beside the metrics.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- olap_mix: `events` / `lineitem` with the fixture schemas ----------
OLAP_EVENTS = 40_000
OLAP_USERS = 1_500
OLAP_LINEITEM = 40_000
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in microseconds
DAY_US = 86_400_000_000

# ---- curate: a labelled corpus -----------------------------------------
CORPUS_DOCS = 3_000           # documents in the raw corpus, all kinds
EVAL_DOCS = 200               # held-out eval slice (decontamination target)
LANGS = ["en", "de", "fr", "es", "it"]
SOURCES = [f"src{i}" for i in range(20)]
VOCAB_PER_LANG = 3_000
SHARES = {"exact_dup": 0.08, "near_dup": 0.08, "contaminated": 0.03,
          "short": 0.04, "noisy": 0.04}
NEAR_DUP_EDIT = 0.02          # share of tokens substituted in a near-dup
CONTAM_PASSAGE = 30           # tokens copied from an eval doc

# ---- stream_events: a scheduled event stream ---------------------------
STREAM_USERS = 20_000
STREAM_ZIPF_S = 1.1
STREAM_TYPE_P = {"view": 0.5, "click": 0.35, "purchase": 0.1, "error": 0.05}
EVENT_TIME_DENSITY = 1_000    # events per second of event time
OOO_SHARE = 0.10              # share of events displaced back in event time
OOO_MAX_MS = 3_000            # displacement bound, below the watermark delay
# Open loop: one chunk every CHUNK_INTERVAL_MS at OPEN_RATE events/s. The
# rate is frozen under a tenth of the closed-loop capacity measured on a
# 4-core host (2.3k-6.3k events/s for the three queries together), so a
# micro-batch's fixed cost, not its rows, sets the latency even when the
# host runs slow.
OPEN_RATE = 200
CHUNK_INTERVAL_MS = 50
WARM_CHUNKS = 2               # open-size chunks drained during set-up
CLOSED_CHUNK = 8_000          # events per closed-loop chunk
CLOSED_CHUNKS = 5


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def olap_tables(seed, out_dir):
    rng = np.random.default_rng([seed, 1])
    n = OLAP_EVENTS
    ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n))
    ts = ts - ts % 1_000_000 + rng.integers(0, 1_000, n) * 1_000  # ms grain
    user = rng.integers(0, OLAP_USERS, n)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.uniform(0, 100, n), 2)
    k = rng.integers(0, 100, n)
    events = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype], pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {v}}}' for v in k], pa.string()),
    })
    _write(events, os.path.join(out_dir, "events.parquet"))

    m = OLAP_LINEITEM
    base_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(1, m // 4, m), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 2_000, m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 100, m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(float), pa.float64()),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, m), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0, pa.float64()),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, m)], pa.string()),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, m)], pa.string()),
        "l_shipdate": pa.array(base_1995 + rng.integers(0, 2_500, m) * DAY_US, pa.timestamp("us")),
    })
    _write(lineitem, os.path.join(out_dir, "lineitem.parquet"))
    return {"events_rows": n, "users": OLAP_USERS, "lineitem_rows": m}


def _vocab(lang_idx):
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "vi", "so", "pe", "du",
            "fa", "gi", "ho", "ja", "be", "co", "ze", "wu", "xi", "yo"]
    rng = random.Random(1000 + lang_idx)  # fixed: vocabularies never vary
    words = set()
    while len(words) < VOCAB_PER_LANG:
        words.add(LANGS[lang_idx][0] + "".join(
            rng.choice(syll) for _ in range(rng.randint(2, 4))))
    return sorted(words)


_STOP = ["the", "a", "of", "and", "to", "in", "is", "on"]


def _clean_tokens(rng, vocab, weights):
    n = rng.randint(40, 300)
    head = [rng.choice(vocab) for _ in range(3)]  # uniform: distinct SNM blocks
    body = rng.choices(vocab, weights=weights, k=n - 3)
    for i in range(len(body)):
        if rng.random() < 0.15:
            body[i] = rng.choice(_STOP)
    return head + body


def corpus(seed, out_dir):
    """Raw corpus + eval slice + ground truth.

    Kinds: clean docs, exact duplicates (same tokens, case/space changed),
    near duplicates (NEAR_DUP_EDIT of tokens after the first three
    substituted), contaminated copies (a CONTAM_PASSAGE-token passage of an
    eval doc spliced into a clean doc), short docs (under the gate's
    10-token floor) and noisy docs (mostly punctuation). Copies always get a
    higher doc_id than their original, so the lowest-id-wins dedup rule
    keeps the original.
    """
    rng = random.Random(seed * 7919 + 17)
    vocabs = [_vocab(i) for i in range(len(LANGS))]
    weights = [1.0 / (r + 1) ** 0.8 for r in range(VOCAB_PER_LANG)]
    n_kind = {k: int(CORPUS_DOCS * s) for k, s in SHARES.items()}
    n_clean = CORPUS_DOCS - sum(n_kind.values())
    docs = []  # (doc_id, text, lang, source)
    truth = {k: [] for k in SHARES}
    truth["near_dup_of"] = []

    def meta():
        return rng.randrange(len(LANGS)), rng.choice(SOURCES)

    clean = []
    for _ in range(n_clean):
        li, src = meta()
        toks = _clean_tokens(rng, vocabs[li], weights)
        clean.append((len(docs), toks, li))
        docs.append((len(docs), " ".join(toks), LANGS[li], src))
    evals = []
    for i in range(EVAL_DOCS):
        toks = _clean_tokens(rng, vocabs[0], weights)
        evals.append((10_000_000 + i, " ".join(toks), "en", "eval"))
    for _ in range(n_kind["short"]):
        li, src = meta()
        docs.append((len(docs), " ".join(rng.choices(vocabs[li], k=rng.randint(2, 8))),
                     LANGS[li], src))
        truth["short"].append(docs[-1][0])
    for _ in range(n_kind["noisy"]):
        li, src = meta()
        toks = rng.choices(vocabs[li], k=rng.randint(20, 60))
        noise = "".join(rng.choice("#$%&*+=<>|~^") for _ in range(8))
        docs.append((len(docs), (" " + noise + " ").join(toks), LANGS[li], src))
        truth["noisy"].append(docs[-1][0])
    for _ in range(n_kind["exact_dup"]):
        oid, toks, li = rng.choice(clean)
        text = "  ".join(t.upper() if rng.random() < 0.1 else t for t in toks)
        docs.append((len(docs), text, LANGS[li], rng.choice(SOURCES)))
        truth["exact_dup"].append(docs[-1][0])
    for _ in range(n_kind["near_dup"]):
        oid, toks, li = rng.choice(clean)
        toks = list(toks)
        for _ in range(max(1, round(NEAR_DUP_EDIT * len(toks)))):
            toks[rng.randrange(3, len(toks))] = rng.choice(vocabs[li])
        docs.append((len(docs), " ".join(toks), LANGS[li], rng.choice(SOURCES)))
        truth["near_dup"].append(docs[-1][0])
        truth["near_dup_of"].append(oid)
    for _ in range(n_kind["contaminated"]):
        _, toks, li = rng.choice(clean)
        ev = rng.choice(evals)[1].split(" ")
        at = rng.randrange(0, len(ev) - CONTAM_PASSAGE)
        cut = rng.randrange(3, len(toks))
        toks = toks[:cut] + ev[at:at + CONTAM_PASSAGE] + toks[cut:]
        docs.append((len(docs), " ".join(toks), LANGS[li], rng.choice(SOURCES)))
        truth["contaminated"].append(docs[-1][0])

    def table(rows):
        ids, texts, langs, srcs = zip(*rows)
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(srcs, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
    _write(table(docs), os.path.join(out_dir, "corpus.parquet"))
    _write(table(evals), os.path.join(out_dir, "eval.parquet"))
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return {"docs": len(docs), "eval_docs": len(evals), "langs": len(LANGS),
            "sources": len(SOURCES), **{f"share_{k}": v for k, v in SHARES.items()}}


def stream_plan(seconds):
    """Chunk sizes of the stream: warm-up chunks (drained during set-up),
    open-loop chunks, then closed-loop chunks."""
    n_open = max(10, seconds * 1000 // CHUNK_INTERVAL_MS)  # the open loop lasts --seconds
    open_chunk = OPEN_RATE * CHUNK_INTERVAL_MS // 1000
    return [open_chunk] * WARM_CHUNKS, [open_chunk] * n_open, [CLOSED_CHUNK] * CLOSED_CHUNKS


def stream(seed, seconds, out_dir):
    warm_sizes, open_sizes, closed_sizes = stream_plan(seconds)
    sizes = warm_sizes + open_sizes + closed_sizes
    n = sum(sizes)
    rng = np.random.default_rng([seed, 3])
    ranks = np.arange(1, STREAM_USERS + 1, dtype=float)
    p_user = ranks ** -STREAM_ZIPF_S
    p_user /= p_user.sum()
    # user ids are a seeded permutation of the Zipf ranks
    user = rng.permutation(STREAM_USERS)[rng.choice(STREAM_USERS, n, p=p_user)]
    types = list(STREAM_TYPE_P)
    etype = rng.choice(len(types), n, p=list(STREAM_TYPE_P.values()))
    ts_ms = EPOCH_2024_US // 1000 + (np.arange(n) * 1000) // EVENT_TIME_DENSITY
    late = rng.random(n) < OOO_SHARE
    ts_ms = ts_ms - np.where(late, rng.integers(1, OOO_MAX_MS, n), 0)
    chunk = np.repeat(np.arange(len(sizes)), sizes)
    table = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts_ms * 1000, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": pa.array([types[i] for i in etype], pa.string()),
        "chunk": pa.array(chunk, pa.int32()),
    })
    _write(table, os.path.join(out_dir, "stream.parquet"))
    return {"events": int(n), "open_rate_per_s": OPEN_RATE,
            "chunk_interval_ms": CHUNK_INTERVAL_MS, "warm_chunks": len(warm_sizes),
            "open_chunks": len(open_sizes),
            "closed_chunks": len(closed_sizes), "closed_chunk_events": CLOSED_CHUNK,
            "users": STREAM_USERS, "zipf_s": STREAM_ZIPF_S,
            "out_of_order_share": OOO_SHARE, "out_of_order_max_ms": OOO_MAX_MS,
            "event_time_density_per_s": EVENT_TIME_DENSITY}


def generate(workload, seed, seconds, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    if workload == "olap_mix":
        return olap_tables(seed, out_dir)
    if workload == "curate":
        return corpus(seed, out_dir)
    if workload == "stream_events":
        return stream(seed, seconds, out_dir)
    raise ValueError(f"unknown workload {workload!r}")
