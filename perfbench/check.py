"""Output checks of one benchmark run, made with the local DuckDB on the
run's generated inputs, after the measured window.

- oracle: the operation's rows equal, as a multiset, the rows of the
  registered query's DuckDB oracle SQL (`SparkEntry.oracleSql`);
- recall: ANN top-k recall against an exact cosine top-k reaches a floor;
- uploaded: every sink status row says uploaded, and the store holds one
  object per status row;
- jsonl: the JSONL root reads back as many records as the passes wrote.
"""
import datetime
import decimal
import glob
import math
import os
import time

import duckdb


def _norm(v):
    if isinstance(v, float):  # equal values compare equal: NaN to NaN, -0.0 to 0.0
        return "NaN" if math.isnan(v) else v + 0.0
    if isinstance(v, decimal.Decimal):
        return v.normalize()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def _rows(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in cur.fetchall())
    return [names[i] for i in order], rows


def _parquet(path):
    return f"SELECT * FROM read_parquet('{path}/*.parquet')"


def _oracle(con, out, chk):
    s_cols, s_rows = _rows(con, _parquet(out))
    o_cols, o_rows = _rows(con, chk["sql"])
    if s_cols != o_cols:
        return f"columns {s_cols} != oracle {o_cols}"
    if len(s_rows) != len(o_rows):
        return f"{len(s_rows)} rows != oracle {len(o_rows)}"
    for a, b in zip(s_rows, o_rows):
        if a != b:
            return f"row {a} != oracle {b}"
    return None


def _recall(con, out, chk):
    k = chk["k"]
    exact = set(con.execute(f"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id % 50 = 0),
        s AS (SELECT qid, e.vec_id, list_cosine_similarity(qvec, e.embedding) AS sim
              FROM q, embeddings e WHERE e.vec_id <> q.qid),
        r AS (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk FROM s)
        SELECT qid, vec_id FROM r WHERE rk <= {k}""").fetchall())
    got = con.execute(f"SELECT qid, vec_id FROM ({_parquet(out)})").fetchall()
    per_q = con.execute(
        f"SELECT max(c) FROM (SELECT count(*) AS c FROM ({_parquet(out)}) GROUP BY qid)").fetchone()[0]
    if per_q is None or per_q > k:
        return f"{per_q} neighbours for one query, expected at most {k}"
    recall = len(exact & set(got)) / len(exact)
    chk["measured"] = recall
    return None if recall >= chk["floor"] else f"recall@{k} {recall:.3f} below {chk['floor']}"


def _uploaded(con, out, chk):
    n, ok = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE uploaded) FROM ({_parquet(out)})").fetchone()
    on_disk = sum(len(fs) for _, _, fs in os.walk(chk["root"]))
    if ok != n:
        return f"{n - ok} of {n} objects not uploaded"
    if on_disk != n:
        return f"{on_disk} objects on disk for {n} status rows"
    return None


def _jsonl(con, out, chk):
    lines = 0
    for f in glob.glob(os.path.join(chk["root"], "**", "part-*"), recursive=True):
        with open(f) as fh:
            lines += sum(1 for line in fh if line.strip())
    written = int(chk["written"])
    return None if lines == written else f"{lines} JSONL records read back, {written} written"


KINDS = {"oracle": _oracle, "recall": _recall, "uploaded": _uploaded, "jsonl": _jsonl}


def run_checks(in_dir, ops):
    """Returns (number of checks made, list of failure messages)."""
    con = duckdb.connect()
    for t in sorted(os.listdir(in_dir)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{in_dir}/{t}/*.parquet')")
    made, failures = 0, []
    for op in ops:
        for chk in op["checks"]:
            made += 1
            out = op["output"]
            if out is None and chk["kind"] != "jsonl":
                failures.append(f"{op['op']}: no output to check")
                continue
            t0 = time.monotonic()
            try:
                msg = KINDS[chk["kind"]](con, out, chk)
            except Exception as e:  # a check that cannot run is a failed check
                msg = f"{chk['kind']} check error: {e}"
            chk["seconds"] = time.monotonic() - t0
            if msg:
                failures.append(f"{op['op']} ({chk['kind']}): {msg}")
    con.close()
    return made, failures
