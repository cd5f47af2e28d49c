"""Emulate the driver's correctness gate: run every queries() entry at
sf0.01 and compare against its oracle_sql() via DuckDB (row count +
schema column names + order-insensitive values). The compound_noisy
oracle is itself pinned by a plain-Python replay of the reference fold."""

import math
import os
import re
from collections import Counter

import duckdb
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry_mod
import oracles
from symspellpy_spark.config import DEFAULT_CORPUS_N as N

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    return str(v)


# Arrow type aliases that are NOT meaningful engine differences (physical
# string encodings); everything else (e.g. DuckDB HUGEINT -> decimal128
# vs Spark BIGINT -> int64) must match exactly — the driver's value-hash
# is type-sensitive and a loose comparison here hides real gate failures.
_TYPE_ALIASES = {
    "large_string": "string",
    "string_view": "string",
    "large_binary": "binary",
}


def _norm_type(t) -> str:
    import pyarrow as pa

    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_norm_type(t.value_type)}>"
    s = str(t)
    return _TYPE_ALIASES.get(s, s)


def _spark_arrow_types(sdf) -> dict:
    tbl = sdf.limit(0).toArrow()
    return {f.name.lower(): _norm_type(f.type) for f in tbl.schema}


def _duck_arrow_types(con, sql) -> dict:
    tbl = con.execute(f"SELECT * FROM ({sql}) LIMIT 0").arrow()
    return {f.name.lower(): _norm_type(f.type) for f in tbl.schema}


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = [r[i] for i in order] if not isinstance(r, dict) else [r[cols[i]] for i in order]
        out.append(tuple(_norm_cell(v) for v in vals))
    return sorted(out)


ALL_QUERIES = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        # rows-only contract: just require a stable, non-erroring result
        assert isinstance(srows, list)
        return
    res = duck.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in ocols), (
        name,
        scols,
        ocols,
    )
    stypes = _spark_arrow_types(sdf)
    otypes = _duck_arrow_types(duck, oracle)
    assert stypes == otypes, (name, stypes, otypes)
    assert len(srows) == len(orows), (name, len(srows), len(orows))
    got = _normalize(srows, scols)
    exp = _normalize(orows, ocols)
    mism = [i for i, (g, e) in enumerate(zip(got, exp)) if g != e]
    assert not mism, (name, [(got[i], exp[i]) for i in mism[:3]])


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert rows is not None and df.columns


MAX_ED = 2
TOKEN = re.compile(entry_mod.TOKEN_RE)


def _replay_rows():
    docs = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    vocab = Counter(t for d in docs for t in TOKEN.findall(d["text"].lower()))
    top = oracles.BruteTop(vocab, MAX_ED)
    rows = []
    for d in docs:
        ts = TOKEN.findall(d["text"].lower())
        # the noisy phrase exactly as q_compound_noisy builds it
        if d["doc_id"] >= 50 or len(ts) < 8 or len(ts[2]) < 5:
            continue
        phrase = " ".join([ts[0] + ts[1], ts[2][:2], ts[2][2:], *ts[3:8]])
        term, dist, count, _ = oracles.lookup_compound(
            phrase, top, N, MAX_ED, token_re=entry_mod.TOKEN_RE
        )
        rows.append((d["doc_id"], term, dist, count))
    return sorted(rows)


def test_compound_noisy_oracle_matches_python_replay(duck):
    """A third opinion on the ``compound_noisy`` oracle, with no Spark
    session: the reference's ``lookup_compound`` fold
    (symspellpy.py:639-865) replayed in plain Python over the same
    phrases, with a brute-force Levenshtein TOP lookup. The oracle must
    return exactly these rows."""
    res = duck.execute(entry_mod.oracle_sql()["compound_noisy"])
    cols = [c[0] for c in res.description]
    assert cols == ["doc_id", "term", "distance", "count"]
    got = sorted(res.fetchall())
    exp = _replay_rows()
    assert exp, "no compound_noisy phrases built"
    assert got == exp, [(g, e) for g, e in zip(got, exp) if g != e][:4]
