"""Property-based tests (hypothesis) for operator invariants that
example-based tests under-cover: arbitrary inputs, idempotence, and
engine-side safe-cast totality.

Each property runs few examples (Spark round-trips are ~100 ms each); the
point is the generator's edge cases (empty strings, unicode, duplicate
keys, all-identical rows), not volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from high_volume_market_data_pipeline_spark.operators.dedup import dedup_keep_latest
from high_volume_market_data_pipeline_spark.operators.projection import safe_cast

_SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(
    st.lists(
        # ASCII-only: Python int() accepts unicode digits and "_" separators
        # that Spark's cast rejects — those are int()'s quirks, not ours.
        st.text(alphabet="0123456789abcxyz+-. ", min_size=0, max_size=12),
        min_size=1,
        max_size=20,
    )
)
def test_safe_cast_total_and_defaults(spark, raws):
    """safe_cast never raises on arbitrary strings; non-numeric input maps
    to the default, numeric input to its value."""
    df = spark.createDataFrame([(s,) for s in raws], "raw string")
    out = df.select(
        "raw", safe_cast(F.col("raw"), "bigint", default=-1).alias("v")
    ).collect()
    for row in out:
        s = row["raw"].strip() if row["raw"] is not None else ""
        try:
            expected = int(s)
        except ValueError:
            expected = -1
        assert row["v"] == expected, (row["raw"], row["v"], expected)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # key (forced collisions)
            st.integers(min_value=0, max_value=100),  # version
            st.integers(min_value=-5, max_value=5),  # payload
        ),
        min_size=1,
        max_size=30,
    )
)
def test_dedup_keep_latest_invariants(spark, rows):
    """Output keys are unique; each kept row is the max-version row of its
    key (ties broken by payload desc — fully deterministic); idempotent."""
    df = spark.createDataFrame(rows, "k int, version int, payload int")
    out = dedup_keep_latest(df, ["k"], [F.desc("version"), F.desc("payload")])
    got = {r["k"]: (r["version"], r["payload"]) for r in out.collect()}
    assert len(got) == len({k for k, _, _ in rows})
    for k in got:
        expected = max((v, p) for kk, v, p in rows if kk == k)
        assert got[k] == expected, (k, got[k], expected)
    again = dedup_keep_latest(
        out, ["k"], [F.desc("version"), F.desc("payload")]
    ).collect()
    assert {r["k"]: (r["version"], r["payload"]) for r in again} == got


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_salted_agg_matches_plain_for_any_input(spark, rows):
    """salted_grouped_agg ≡ plain groupBy for arbitrary key/value data."""
    from high_volume_market_data_pipeline_spark.operators.skew import (
        salted_grouped_agg,
    )

    df = spark.createDataFrame(
        [(k, float(v), i) for i, (k, v) in enumerate(rows)],
        "k int, v double, uid int",
    )
    plain = {
        r["k"]: (r["n"], r["s"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(28,6)")).alias("s"),
        )
        .collect()
    }
    salted = {
        r["k"]: (r["n"], r["s"])
        for r in salted_grouped_agg(
            df,
            ["k"],
            partial_aggs=[
                F.count(F.lit(1)).alias("pn"),
                F.sum(F.col("v").cast("decimal(28,6)")).alias("ps"),
            ],
            final_aggs=[F.sum("pn").alias("n"), F.sum("ps").alias("s")],
            salt_from="uid",
            n_salts=4,
        ).collect()
    }
    assert salted == plain


def test_floor_micro_unit_price_is_cross_engine_deterministic(spark):
    """floor(px*1e6/qty)/1e6 must be bit-identical in Spark, DuckDB, and
    plain IEEE Python — the determinism contract behind
    cheapest_supplier_per_part (ROUND(x, 6) breaks it on halfway doubles;
    see NOTES.md round-2 fix #4)."""
    import math
    import random

    import duckdb
    import pyspark.sql.functions as F

    rng = random.Random(42)
    cases = [
        (round(rng.uniform(1.0, 100.0), 2) * q, float(q))
        for q in range(1, 51)
        for _ in range(4)
    ]
    expected = [math.floor(px * 1_000_000.0 / qty) / 1_000_000.0 for px, qty in cases]

    con = duckdb.connect()
    duck = [
        con.execute(
            "SELECT floor(? * 1000000.0 / ?) / 1000000.0", [px, qty]
        ).fetchone()[0]
        for px, qty in cases
    ]
    assert duck == expected

    df = spark.createDataFrame(cases, "px double, qty double")
    got = [
        r["u"]
        for r in df.select(
            (F.floor(F.col("px") * F.lit(1000000.0) / F.col("qty")) / F.lit(1000000.0)).alias("u")
        ).collect()
    ]
    assert got == expected


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet="ab c\t\n",  # tiny vocab → repeated tokens, odd whitespace
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=10,
    ),
    st.integers(min_value=2, max_value=5),
)
def test_word_shingles_matches_python_reference(spark, texts, w):
    """word_shingles (bind_once expression shape) ≡ a plain Python
    re-implementation: normalize → split → w-grams, whole-normalized-text
    fallback for short docs. Guards the CSE rewrite against semantic
    drift on whitespace/empty edge cases."""
    import re as _re

    from high_volume_market_data_pipeline_spark.dedup.minhash import (
        word_shingles,
    )

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {
        r["i"]: list(r["sh"])
        for r in df.select("i", word_shingles(F.col("t"), w).alias("sh")).collect()
    }
    for i, t in enumerate(texts):
        norm = _re.sub(r"\s+", " ", t.lower()).strip(" ")
        toks = norm.split(" ")
        if len(toks) < w:
            expected = [norm]
        else:
            expected = [
                " ".join(toks[j : j + w]) for j in range(len(toks) - w + 1)
            ]
        assert got[i] == expected, (t, w, got[i], expected)


@settings(**_SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=25))
def test_split_bucket_matches_python_md5(spark, ids):
    """The md5 split bucket (first 8 hex chars → int % 100) is engine-
    independent: Spark's conv(substring(md5)) equals Python's hashlib on
    the decimal-string bytes of the id."""
    import hashlib

    from high_volume_market_data_pipeline_spark.operators.sampling import (
        hash_bucket,
    )

    df = spark.createDataFrame([(i,) for i in set(ids)], "doc_id long")
    got = {
        r["doc_id"]: r["b"]
        for r in df.select("doc_id", hash_bucket(F.col("doc_id")).alias("b")).collect()
    }
    for i in set(ids):
        expected = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100
        assert got[i] == expected, (i, got[i], expected)


@settings(**_SETTINGS)
@given(st.data())
def test_interleave_bits_matches_python_reference(spark, data):
    """Morton interleave is bit-exact vs a Python reference: output bit
    (b*n + i) equals bit b of input column i — the property Z-order
    locality rests on — for 1 to 4 columns and widths up to a full long."""
    from high_volume_market_data_pipeline_spark.functions.zorder import (
        interleave_bits,
    )

    n, bits = data.draw(
        st.sampled_from([(2, 12), (3, 12), (3, 21), (2, 31), (4, 5), (1, 7)])
    )
    values = st.integers(min_value=0, max_value=(1 << bits) - 1)
    tuples = data.draw(
        st.lists(st.tuples(*[values] * n), min_size=1, max_size=20)
    )
    cols = [f"c{i}" for i in range(n)]
    rows = [(i, *t) for i, t in enumerate(set(tuples))]
    df = spark.createDataFrame(
        rows, ", ".join(["id long", *[f"{c} long" for c in cols]])
    )
    got = {
        r["id"]: r["z"]
        for r in df.select(
            "id", interleave_bits([F.col(c) for c in cols], bits).alias("z")
        ).collect()
    }

    def ref(vs):
        z = 0
        for bit in range(bits):
            for i, v in enumerate(vs):
                z |= ((v >> bit) & 1) << (bit * n + i)
        return z

    for i, *vs in rows:
        assert got[i] == ref(vs), (n, bits, vs, got[i], ref(vs))


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # key
            st.integers(min_value=0, max_value=50),   # left ts
        ),
        min_size=1,
        max_size=15,
    ),
    st.dictionaries(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # key
            st.integers(min_value=0, max_value=50),   # right ts (unique per key)
        ),
        st.integers(min_value=-9, max_value=9),       # value
        min_size=0,
        max_size=15,
    ),
    st.sampled_from(["backward", "forward", "nearest"]),
    st.sampled_from([None, 3.0, 10.0]),
)
def test_asof_join_matches_pandas_merge_asof(spark, lrows, rmap, direction, tol):
    """asof_join ≡ pandas merge_asof (the de-facto reference semantics) for
    both directions and tolerances, on inputs without duplicate right
    timestamps per key (where pandas breaks ties by input order, which a
    distributed engine cannot honor)."""
    import math

    import pandas as pd

    from high_volume_market_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(k, float(t), i) for i, (k, t) in enumerate(lrows)],
        "k int, t double, row_id int",
    )
    rrows = [(k, float(t), float(v)) for (k, t), v in rmap.items()]
    right = spark.createDataFrame(
        rrows or [(99, 0.0, 0.0)], "k int, rt double, val double"
    )
    got = {
        r["row_id"]: (r["asof_rt"], r["asof_val"])
        for r in asof_join(
            left, right, key="k", left_ts="t", right_ts="rt",
            right_values=["val"], direction=direction, tolerance=tol,
        ).collect()
    }

    lpd = pd.DataFrame(
        [(k, float(t), i) for i, (k, t) in enumerate(lrows)],
        columns=["k", "t", "row_id"],
    ).sort_values(["t", "row_id"])
    rpd = pd.DataFrame(
        rrows or [(99, 0.0, 0.0)], columns=["k", "rt", "val"]
    ).sort_values(["rt", "k"])
    merged = pd.merge_asof(
        lpd, rpd, left_on="t", right_on="rt", by="k",
        direction=direction, allow_exact_matches=True,
        tolerance=tol,
    )
    for _, row in merged.iterrows():
        want = (
            None if math.isnan(row["rt"]) else row["rt"],
            None if math.isnan(row["val"]) else row["val"],
        )
        assert got[row["row_id"]] == want, (
            direction, tol, lrows, rmap, row["row_id"], got[row["row_id"]], want,
        )


@settings(**_SETTINGS)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=-3, max_value=3),
        max_size=10,
    ),
    st.dictionaries(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=-3, max_value=3),
        max_size=10,
    ),
)
def test_version_changes_matches_dict_diff(spark, tmp_path_factory, pre, post):
    """changes() ≡ the obvious dict diff for any pair of keyed states."""
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    root = tmp_path_factory.mktemp("cdfprop")
    t = VersionedParquetTable(str(root))
    t.write(spark.createDataFrame(
        list(pre.items()) or [(99, 0)], "id int, v int"))
    t.write(spark.createDataFrame(
        list(post.items()) or [(99, 0)], "id int, v int"))
    pre = dict(pre) or {99: 0}
    post = dict(post) or {99: 0}
    want = set()
    for k in pre.keys() - post.keys():
        want.add((k, pre[k], "delete"))
    for k in post.keys() - pre.keys():
        want.add((k, post[k], "insert"))
    for k in pre.keys() & post.keys():
        if pre[k] != post[k]:
            want.add((k, pre[k], "update_preimage"))
            want.add((k, post[k], "update_postimage"))
    got = {
        (r["id"], r["v"], r["_change_type"])
        for r in t.changes(spark, 0, 1, key_cols=["id"]).collect()
    }
    assert got == want
