"""Untimed correctness checks. Each returns a list of failures, one dict
per wrong output: {"op", "class": "check", "message"}."""
import json
import os

import duckdb

NEAR_DUP_RECALL_FLOOR = 0.9


def _fail(op, message):
    return {"op": op, "class": "check", "message": message}


def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def olap(data_dir, out_dir, oracle_sql):
    """Each query's output equals its DuckDB twin (SparkEntry.oracleSql) on
    the generated tables: columns sorted by name, rows sorted, values
    compared as strings (the oracle compare of the repository's gate)."""
    con = duckdb.connect()
    for t in ("events", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = []
    for name, sql in sorted(oracle_sql.items()):
        if sql is None:
            bad.append(_fail(name, "no oracleSql entry"))
            continue
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            bad.append(_fail(name, "no output dumped"))
            continue
        try:
            exp = _norm(con.execute(sql).fetchdf())
            got = _norm(con.execute(f"SELECT * FROM '{path}/*.parquet'").fetchdf())
        except Exception as e:  # the cause is the failure's message
            bad.append(_fail(name, f"{type(e).__name__}: {e}"))
            continue
        if list(exp.columns) != list(got.columns):
            bad.append(_fail(name, f"columns differ: want {list(exp.columns)} got {list(got.columns)}"))
        elif len(exp) != len(got):
            bad.append(_fail(name, f"row count differs: want {len(exp)} got {len(got)}"))
        else:
            for c in exp.columns:
                neq = exp[c].astype(str) != got[c].astype(str)
                if neq.any():
                    i = neq.idxmax()
                    bad.append(_fail(name, f"{int(neq.sum())} values differ in {c}, "
                                           f"first: want {exp[c][i]!r} got {got[c][i]!r}"))
                    break
    return bad


def curate(data_dir, out_dir, facts):
    """Survivor and packing checks against the generator's ground truth.
    Returns (failures, recall figures)."""
    if not facts:
        return [_fail("curate", "no pipeline output to check")], {}
    truth = json.load(open(os.path.join(data_dir, "truth.json")))
    con = duckdb.connect()
    ids_in = {r[0] for r in con.execute(
        f"SELECT doc_id FROM '{data_dir}/corpus.parquet'").fetchall()}
    surv = con.execute(f"SELECT doc_id, fp FROM '{out_dir}/survivors/*.parquet'").fetchall()
    surv_ids = {r[0] for r in surv}
    packed_ids = {r[0] for r in con.execute(
        f"SELECT doc_id FROM '{out_dir}/packed/*.parquet'").fetchall()}
    bad = []
    if not surv_ids <= ids_in:
        bad.append(_fail("curate", f"{len(surv_ids - ids_in)} survivors are not input docs"))
    if len({r[1] for r in surv}) != len(surv):
        bad.append(_fail("curate", f"{len(surv) - len({r[1] for r in surv})} survivors share a fingerprint"))
    kept_dups = surv_ids & set(truth["exact_dup"])
    if kept_dups:
        bad.append(_fail("curate", f"{len(kept_dups)} injected exact duplicates survived"))
    near = truth["near_dup"]
    recall = sum(1 for d in near if d not in surv_ids) / max(1, len(near))
    if recall < NEAR_DUP_RECALL_FLOOR:
        bad.append(_fail("curate", f"near-dup recall {recall:.3f} below {NEAR_DUP_RECALL_FLOOR}"))
    if packed_ids != surv_ids:
        bad.append(_fail("curate", f"packed docs differ from survivors "
                                   f"({len(packed_ids)} vs {len(surv_ids)})"))
    if facts["packed_tokens"] != facts["survivor_tokens"]:
        bad.append(_fail("curate", f"packed tokens {facts['packed_tokens']} != "
                                   f"survivor tokens {facts['survivor_tokens']}"))
    if facts["written_rows"] != facts["packed_rows"]:
        bad.append(_fail("curate", f"rows written {facts['written_rows']} != "
                                   f"rows packed {facts['packed_rows']}"))
    contam = truth["contaminated"]
    return bad, {"near_dup_recall": recall,
                 "contam_recall": sum(1 for d in contam if d not in surv_ids) / max(1, len(contam)),
                 "survivors": len(surv_ids)}
