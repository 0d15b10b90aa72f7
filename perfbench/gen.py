"""Seeded input generation, with the local DuckDB, before any timing.

Every table is derived from the sf0.1 test tables with no new data: a fixed
id range is kept, replicated with ScaleProbe's id offsets, salted per
replica with a member of a `graft.ops.ProbeSalts` permutation family, and
written in a seeded row order as one parquet file. The seed picks the salt
members and the row order. Table sizes do not depend on it, so every seed
gives the same amount of work.
"""
import os
import random
from dataclasses import dataclass

import duckdb

# Replica r's ids are `id + r * ID_STRIDE` (ScaleProbe's offset), a multiple
# of every id modulus the queries gate on (50, 100, 200).
ID_STRIDE = 100_000_000

ALPHA = "abcdefghijklmnopqrstuvwxyz"
# graft.ops.ProbeSalts.textCoprime: the multipliers of the affine text family.
TEXT_COPRIME = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]
TEXT_FAMILY = len(TEXT_COPRIME) * 26
COORD_FAMILY = 2048


def text_permutation(r):
    """ProbeSalts.textPermutation: the alphabet map x -> a*x + b (mod 26)."""
    a, b = TEXT_COPRIME[r // 26], r % 26
    return "".join(ALPHA[(a * x + b) % 26] for x in range(26))


def coord_permutation(rep, dim=64):
    """ProbeSalts.coordPermutation: 1-based source index of each coordinate."""
    mult, shift = ((rep >> 6) % 32) * 2 + 1, rep % 64
    return [(i * mult + shift) % dim + 1 for i in range(dim)]


@dataclass(frozen=True)
class Table:
    name: str
    id_col: str
    keep_below: int   # rows with id < keep_below are kept
    replicas: int = 1
    salt: str = ""    # "", "text" or "coord"


WORKLOAD_TABLES = {
    "media_curation": [
        Table("events", "event_id", 8_000),
        Table("documents", "doc_id", 2_000, salt="text"),
        Table("part", "p_partkey", 4_000)],
    "text_dedup_search": [
        Table("documents", "doc_id", 500, replicas=2, salt="text"),
        Table("embeddings", "vec_id", 250, replicas=2, salt="coord")],
    "iterative_training": [
        Table("documents", "doc_id", 500, salt="text"),
        Table("embeddings", "vec_id", 500, salt="coord"),
        Table("events", "event_id", 10_000)],
}

# Inputs of the kernel layer: the text_dedup_search columns, with enough
# rows that per-row kernel work outweighs per-query overhead.
KERNEL_TABLES = [
    Table("documents", "doc_id", 1_000, replicas=2, salt="text"),
    Table("embeddings", "vec_id", 1_000, replicas=2, salt="coord")]


def members(seed, salt, size, n):
    """`n` distinct members of a permutation family, picked by the seed."""
    if n > size:
        raise ValueError(f"{n} replicas exceed the {size}-member {salt} family")
    return random.Random(f"{seed}:{salt}").sample(range(size), n)


def _salted(t, seed):
    """SQL expression list for the replica-salted columns of `t`."""
    if t.salt == "text":
        perms = [text_permutation(m) for m in members(seed, "text", TEXT_FAMILY, t.replicas)]
        cases = " ".join(f"WHEN {r} THEN translate(text, '{ALPHA}', '{p}')"
                         for r, p in enumerate(perms))
        return f"CASE _rep {cases} END AS text"
    if t.salt == "coord":
        cases = " ".join(f"WHEN {r} THEN list_transform({coord_permutation(m)}, j -> embedding[j])"
                         for r, m in enumerate(members(seed, "coord", COORD_FAMILY, t.replicas)))
        return f"CASE _rep {cases} END AS embedding"
    return None


def generate(src_dir, out_dir, tables, seed):
    """Write each table to out_dir/<name>.parquet/; returns rows per table."""
    con = duckdb.connect()
    rows = {}
    for t in tables:
        src = f"read_parquet('{src_dir}/{t.name}.parquet')"
        cols = [c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
        salted = _salted(t, seed)
        salted_col = {"text": "text", "coord": "embedding"}.get(t.salt)
        select = ", ".join(
            f"{t.id_col} + _rep * {ID_STRIDE} AS {t.id_col}" if c == t.id_col
            else salted if c == salted_col else c
            for c in cols)
        path = os.path.join(out_dir, f"{t.name}.parquet")
        os.makedirs(path, exist_ok=True)
        con.execute(f"""
            COPY (SELECT {select}
                  FROM {src}, (SELECT unnest(range({t.replicas})) AS _rep)
                  WHERE {t.id_col} < {t.keep_below}
                  ORDER BY hash({t.id_col} + _rep * {ID_STRIDE}, {seed}))
            TO '{path}/part-0.parquet' (FORMAT PARQUET)""")
        rows[t.name] = con.execute(
            f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]
    con.close()
    return rows
