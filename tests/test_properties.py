"""Property-based checks (hypothesis): the routing and dedup invariants
hold for arbitrary inputs, not just fixtures. Examples are generated
up front and evaluated in ONE Spark job per property (per-example
Spark roundtrips would be pathologically slow)."""

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from torua_spark.functions.hashing import fnv1a32, fnv1a32_py, shard_for_key


# One batched property: random unicode keys -> Catalyst FNV == Python FNV.
@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=64),
        min_size=50, max_size=50, unique=True,
    )
)
def test_fnv_property_random_unicode(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    got = {r["key"]: r["h"] for r in df.select("key", fnv1a32("key").alias("h")).collect()}
    for k in keys:
        assert got[k] == fnv1a32_py(k), repr(k)


def test_shard_always_in_range(spark):
    import random

    random.seed(7)
    keys = ["".join(random.choices("abcdefgh数字/:@ ", k=random.randint(0, 30))) for _ in range(500)]
    df = spark.createDataFrame([(k,) for k in set(keys)], "key string")
    shards = [r["s"] for r in df.select(shard_for_key("key").alias("s")).collect()]
    assert all(0 <= s < 4 for s in shards)


def test_upsert_idempotent_property(spark, sf_dir):
    """Applying the same update batch twice == applying once (LWW)."""
    from torua_spark.operators.kv import upsert
    from torua_spark.sources.catalog import kv_view

    kv = kv_view(spark, sf_dir)
    updates = spark.createDataFrame(
        [("Customer#000000003", "X|1"), ("new-key", "Y|2")], "key string, value string"
    )
    once = upsert(kv, updates)
    twice = upsert(once, updates)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_jaccard_bounds_and_symmetry(spark, sf_dir):
    from torua_spark.queries.rag_q import QUERIES

    rows = QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
    assert all(0.0 <= r["jaccard"] <= 1.0 for r in rows)


def test_hash_unit_matches_python_md5(spark):
    """The sampling band function == top-32-md5-bits/2^32 computed by
    Python's hashlib — pinning the cross-engine portability claim."""
    import hashlib

    from torua_spark.operators.sampling import hash_unit

    keys = [str(i) for i in range(64)] + ["", "é", "数字", "a b|c"]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r["k"]: r["u"]
        for r in df.select("k", hash_unit(F.col("k"), "salt:").alias("u")).collect()
    }
    for k in keys:
        want = int(hashlib.md5(("salt:" + k).encode()).hexdigest()[:8], 16) / 2**32
        assert got[k] == want, k


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 1000)),
        min_size=30, max_size=60,
        unique_by=lambda t: t[0],
    )
)
def test_prefix_sum_property_random_sparse_ids(spark, rows):
    """Block-wise exclusive prefix sum == sequential cumsum for
    arbitrary sparse, gappy order keys (block boundaries land
    anywhere relative to the keys)."""
    from torua_spark.operators.sampling import exclusive_prefix_sum

    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r["id"]: r["offset"]
        for r in exclusive_prefix_sum(df, "id", "v", block=13).collect()
    }
    acc = 0
    for i, v in sorted(rows):
        assert got[i] == acc, (i, got[i], acc)
        acc += v


def test_declared_registry_is_exactly_fifty_with_oracles():
    """The driver hash-checks the FIRST 50 registry entries only; the
    declared surface must be exactly 50 names, every one with a DuckDB
    oracle, and every name resolvable — a typo'd composite leg or a
    51st entry silently escapes verification otherwise. The only
    oracle-less declared entries allowed are the documented
    non-SQL-expressible set (_ROWS_ONLY: learned k-means ANN paths,
    recall-pinned in tests/test_rag.py instead)."""
    from torua_spark.queries import (
        _DECLARED,
        _ROWS_ONLY,
        all_oracle_sql,
        all_queries,
    )

    qs = all_queries()
    osql = all_oracle_sql()
    assert len(_DECLARED) == 50
    assert list(qs) == _DECLARED
    assert set(osql) == set(_DECLARED) - _ROWS_ONLY
    assert _ROWS_ONLY <= set(_DECLARED)
    assert all(callable(f) for f in qs.values())


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**40), max_value=2**40),
            st.text(max_size=24),
            st.one_of(st.none(), st.floats(allow_infinity=True, width=64)),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_local_df_round_trips_arbitrary_rows(spark, rows):
    """local_df's SQL-literal encoding must survive anything a fixture
    could hold: arbitrary unicode (quotes, backslashes, emoji,
    control-ish chars), NULLs, NaN/Inf doubles, negative longs."""
    import math

    from torua_spark.sources.local import local_df

    got = local_df(spark, rows, "a long, s string, d double").collect()
    assert len(got) == len(rows)
    norm = lambda v: ("nan" if isinstance(v, float) and math.isnan(v) else v)
    assert sorted(map(str, ((a, s, norm(d)) for a, s, d in rows))) == sorted(
        map(str, ((r.a, r.s, norm(r.d)) for r in got))
    )


@settings(max_examples=20, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**16 - 1), min_size=1, max_size=3),
    st.integers(min_value=1, max_value=16),
)
def test_zvalue_python_reference_is_bijective(vals, bits):
    """Morton interleave must be invertible (no two coordinate tuples
    share a z) — checked by de-interleaving the reference impl."""
    from torua_spark.sources.layout import zvalue_py

    vals = [v & ((1 << bits) - 1) for v in vals]
    z = zvalue_py(vals, bits)
    k = len(vals)
    back = [0] * k
    for c in range(k):
        for i in range(bits):
            back[c] |= ((z >> (i * k + (k - 1 - c))) & 1) << i
    assert back == vals


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["cookie banner", "nav", "body text", "x y z",
                             "", "  spaced  ", "unique"]),
            min_size=0, max_size=6,
        ),
        min_size=1, max_size=25,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_boilerplate_lines_property(spark, docs_lines, min_docs):
    """remove_boilerplate_lines == the pure-Python reference for
    arbitrary small corpora (incl. empty docs, blank and padded
    lines, fully-boilerplate docs)."""
    from torua_spark.operators.text_analysis import remove_boilerplate_lines

    docs = [(f"d{i}", "\n".join(ls)) for i, ls in enumerate(docs_lines)]
    # python reference
    from collections import defaultdict

    seen = defaultdict(set)
    for did, text in docs:
        for ln in text.split("\n"):
            if ln.strip():
                seen[ln.strip()].add(did)
    boiler = {k for k, v in seen.items() if len(v) >= min_docs}
    want = {}
    for did, text in docs:
        lines = text.split("\n")
        kept = [ln for ln in lines if ln.strip() not in boiler]
        want[did] = ("\n".join(kept), len(lines), len(lines) - len(kept))

    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_removed"])
        for r in remove_boilerplate_lines(df, min_docs=min_docs).collect()
    }
    assert got == want


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-1000, max_value=1000)),
            st.one_of(st.none(), st.sampled_from(["a", "bb", "ccc", ""])),
            st.one_of(st.none(),
                      st.floats(min_value=-100, max_value=100,
                                allow_nan=False, width=32)),
        ),
        min_size=1, max_size=40,
    )
)
def test_profile_table_property(spark, rows):
    """profile_table == pandas-computed column stats for arbitrary
    nullable (long, string, double) rows."""
    from torua_spark.operators.profile import profile_table

    df = spark.createDataFrame(rows, "k bigint, s string, v double")
    out = {r["col_name"]: r for r in profile_table(df).collect()}
    ks = [r[0] for r in rows]
    ss = [r[1] for r in rows]
    vs = [r[2] for r in rows]
    for name, col in (("k", ks), ("s", ss), ("v", vs)):
        nn = [x for x in col if x is not None]
        p = out[name]
        assert p["n_rows"] == len(rows)
        assert p["n_nulls"] == len(rows) - len(nn)
        assert p["n_distinct"] == len(set(nn))
    knn = [x for x in ks if x is not None]
    if knn:
        assert out["k"]["min_num"] == float(min(knn))
        assert out["k"]["max_num"] == float(max(knn))
        assert abs(out["k"]["avg_num"] - sum(knn) / len(knn)) < 1e-3
    snn = [x for x in ss if x is not None]
    if snn:
        assert out["s"]["min_str"] == min(snn)
        assert out["s"]["max_str"] == max(snn)


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=0, max_size=40,
    )
)
def test_pattern_compiler_random_graph_parity(spark, raw_edges):
    """MATCH compilation == brute-force Python matching on an
    arbitrary small graph: single edge, reverse, undirected, 2-hop
    (homomorphic walk semantics), cycle close, and per-anchor counts."""
    from torua_spark.plans.pattern import PropertyGraph

    E = sorted(set(raw_edges))
    people = spark.createDataFrame([(i,) for i in range(8)], "pid long")
    knows = spark.createDataFrame(E or [(99, 99)], "ksrc long, kdst long")
    if not E:
        knows = knows.filter("ksrc < 0")  # empty relation, kept schema
    pg = (
        PropertyGraph()
        .add_vertex("person", people, "pid")
        .add_edge("K", knows, "ksrc", "kdst")
    )

    def rows(q, cols):
        return sorted(tuple(r[c] for c in cols) for r in pg.query(q).collect())

    assert rows("MATCH (a:person)-[:K]->(b) RETURN a, b", "ab") == E
    assert rows("MATCH (a:person)<-[:K]-(b) RETURN a, b", "ab") == sorted(
        (d, s) for s, d in E
    )
    und = sorted(E + [(d, s) for s, d in E])
    assert rows("MATCH (a:person)-[:K]-(b) RETURN a, b", "ab") == und
    two = sorted((s, d2) for s, d in E for s2, d2 in E if d == s2)
    assert rows("MATCH (a:person)-[:K]->(m)-[:K]->(b) RETURN a, b", "ab") == two
    cyc = sorted(set((s, d) for s, d in E if (d, s) in set(E)))
    assert rows(
        "MATCH (a:person)-[:K]->(b)-[:K]->(a) RETURN DISTINCT a, b", "ab"
    ) == cyc
    counts = {}
    for s, _ in E:
        counts[s] = counts.get(s, 0) + 1
    got = {
        (r["a"]): r["n"]
        for r in pg.query(
            "MATCH (a:person)-[:K]->(b) RETURN a, count(*) AS n"
        ).collect()
    }
    assert got == counts
