"""Property-based (hypothesis) checks on the cross-engine primitives
everything else is built on: the portable PRNG, exact-decimal
aggregation, and the guarded percentage. Each property runs a handful
of hypothesis examples batched into ONE DataFrame per example, so the
suite cost stays in seconds while the input space is adversarial
rather than hand-picked."""

from __future__ import annotations

import pytest

from decimal import Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.operators.common import dsum, guarded_pct
from smart_meter_data_pipeline_spark.operators.meter_pipeline import _M31, _u
from smart_meter_data_pipeline_spark.sources.manifest_cow import delete_where
from smart_meter_data_pipeline_spark.sources.manifest_skipping import (
    read_where,
)

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# Ranges where every intermediate stays < 2^52 (the documented exactness
# envelope of the mix: m*2654435761 + t*40503 + salt*97).
_meters = st.integers(min_value=0, max_value=2**20)
_ticks = st.integers(min_value=0, max_value=2**20)
_salts = st.integers(min_value=0, max_value=1000)


def _u_py(salt: int, m: int, t: int) -> float:
    """Pure-Python reference of the portable PRNG — the third engine."""
    h1 = (m * 2654435761 + t * 40503 + salt * 97) % _M31
    h2 = (h1 * 48271) % _M31
    return h2 / _M31


@given(rows=st.lists(st.tuples(_salts, _meters, _ticks), min_size=1, max_size=64))
@settings(**_SETTINGS)
def test_portable_prng_matches_python_reference(spark, rows):
    """The Spark-side mix must equal the pure-Python reference bit for
    bit on arbitrary inputs in the exactness envelope — the property
    the generator G1-G5 hash-parity (and every hash-sampled operator)
    rests on."""
    df = spark.createDataFrame(rows, "salt long, m long, t long")
    got = df.select(
        "salt", "m", "t",
        _u(0, F.col("m"), F.col("t")).alias("u0"),
    ).collect()
    for r in got:
        assert r["u0"] == _u_py(0, r["m"], r["t"]), (r["m"], r["t"])
    # salt is compile-time: spot-check a second salt end-to-end
    got2 = df.select("m", "t", _u(7, F.col("m"), F.col("t")).alias("u")).collect()
    for r in got2:
        assert r["u"] == _u_py(7, r["m"], r["t"])


@given(rows=st.lists(st.tuples(_salts, _meters, _ticks), min_size=1, max_size=64))
@settings(**_SETTINGS)
def test_portable_prng_in_unit_interval(spark, rows):
    df = spark.createDataFrame(rows, "salt long, m long, t long")
    got = df.select(_u(3, F.col("m"), F.col("t")).alias("u")).collect()
    assert all(0.0 <= r["u"] < 1.0 for r in got)


@given(
    vals=st.lists(
        st.floats(
            min_value=-1e9,
            max_value=1e9,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=64,
    )
)
@settings(**_SETTINGS)
def test_dsum_is_exact_decimal_sum(spark, vals):
    """dsum must equal the order-insensitive exact Decimal sum (each
    term quantized to 6 fractional digits) regardless of partitioning
    — the anti-float-drift contract every revenue/consumption rollup
    depends on.

    The per-term quantize models SPARK'S cast semantics: JVM
    double→decimal goes through the SHORTEST decimal representation
    (``BigDecimal(Double.toString(d))``) before HALF_UP, so the model
    is ``Decimal(repr(v))``, not the exact binary expansion
    ``Decimal(v)`` — hypothesis found a boundary double
    (….3531945, exact expansion …44999…) where the two differ by one
    ulp. DuckDB rounds the BINARY value on that same boundary (the
    1-ulp deep-mantissa divergence the verify-skill documents); the
    oracle contract stays safe because testdata doubles sit on the
    decimal grid and COMPUTED terms are quantized before the cast."""
    df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(7)
    got = df.agg(dsum("v", "s")).first()["s"]
    q = Decimal("0.000001")
    want = float(
        sum(Decimal(repr(v)).quantize(q, rounding="ROUND_HALF_UP") for v in vals)
    )
    assert got == want


@given(
    pairs=st.lists(
        st.tuples(
            st.floats(min_value=0, max_value=1e6, allow_nan=False),
            st.floats(min_value=0, max_value=1e6, allow_nan=False),
        ),
        min_size=1,
        max_size=32,
    )
)
@settings(**_SETTINGS)
def test_guarded_pct_total_and_ieee_exact(spark, pairs):
    """guarded_pct must be total (never NULL) and bit-equal to IEEE
    double division: 0.0 for non-positive denominators, else exactly
    num/den*100 as Python computes it — including the inf a subnormal
    denominator overflows to, which is the reference P10 semantics
    both engines share (hypothesis found that edge; it is inherited
    behavior, not a guard gap, so the property pins it rather than
    hiding it)."""
    df = spark.createDataFrame(pairs, "num double, den double")
    got = df.select(
        guarded_pct(F.col("num"), F.col("den"), "pct")
    ).collect()
    for r, (num, den) in zip(got, pairs):
        assert r["pct"] is not None
        want = num / den * 100.0 if den > 0 else 0.0
        assert r["pct"] == want, (num, den)


_json_scalars = st.one_of(
    st.none(),
    st.integers(min_value=-(2**40), max_value=2**40),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=20),
    st.booleans(),
)
_messages = st.one_of(
    # arbitrary junk that may not even be JSON
    st.text(max_size=40),
    # JSON objects with reference-ish keys and adversarial values
    st.fixed_dictionaries(
        {},
        optional={
            "meter_id": _json_scalars,
            "reading_timestamp": _json_scalars,
            "reading_consumption_milliwatts": _json_scalars,
            "reading_production_milliwatts": _json_scalars,
            "status": _json_scalars,
            "unexpected_extra": _json_scalars,
        },
    ).map(lambda d: __import__("json").dumps(d)),
)


# The two ingest-boundary properties guard the engine's front door
# against adversarial input; 5 examples/run let the ANSI
# to_timestamp crash hide for 13 rounds, so they get a bigger draw
# budget than the rest of the suite.
_INGEST_SETTINGS = dict(_SETTINGS, max_examples=25)


@given(msgs=st.lists(_messages, min_size=1, max_size=32))
@settings(**_INGEST_SETTINGS)
@pytest.mark.slow
def test_ingest_validation_is_total_partition(spark, msgs):
    """The validation gate must be TOTAL on arbitrary input: every
    Kafka message lands in exactly one of (valid, quarantine) — no
    crash, no dropped row, no double-count — and every valid row
    satisfies the schema CHECKs (parseable ts, enum status,
    non-negative readings, at least one reading)."""
    from smart_meter_data_pipeline_spark.sources import ingest

    raw = spark.createDataFrame([(m,) for m in msgs], ["value"])
    classified = ingest.classify(ingest.parse_messages(raw))
    valid, quarantine = ingest.split_valid(classified)
    n_valid, n_quar = valid.count(), quarantine.count()
    assert n_valid + n_quar == len(msgs)
    for r in valid.collect():
        assert r["reading_timestamp"] is not None
        assert r["status"] in {"V", "E", "R"}
        cons = r["reading_consumption_milliwatts"]
        prod = r["reading_production_milliwatts"]
        assert cons is not None or prod is not None
        assert cons is None or cons >= 0
        assert prod is None or prod >= 0
    for r in quarantine.collect():
        assert r["reject_reason"] is not None


@given(msgs=st.lists(_messages, min_size=1, max_size=32))
@settings(**_INGEST_SETTINGS)
@pytest.mark.slow
def test_wire_parse_is_total(spark, msgs):
    """from_wire must be TOTAL on arbitrary wire bytes (the docstring's
    'invalid envelopes yield NULL fields' promise): no row may crash
    the batch under ANSI mode, every input yields exactly one output
    row, and an unparseable timestamp string surfaces as NULL (for the
    downstream validator to quarantine), never as an exception."""
    import json

    from smart_meter_data_pipeline_spark.sources.kafka import from_wire

    raw = spark.createDataFrame([(m,) for m in msgs], ["value"])
    # Collect null-flags, not the raw timestamp: from_wire is a
    # parse-only stage whose output may hold instants Spark represents
    # but Python datetime cannot (year -1000); the DOMAIN bound lives
    # in the downstream validator (ingest.classify), not here.
    out = from_wire(raw).select(
        F.isnull("reading_timestamp").alias("ts_null"),
        F.isnull("meter_id").alias("id_null"),
    ).collect()
    assert len(out) == len(msgs)
    for r, m in zip(out, msgs):
        try:
            env = json.loads(m)
            ok_env = isinstance(env, dict)
        except (ValueError, TypeError):
            ok_env = False
        if not ok_env:
            assert r["ts_null"]
            assert r["id_null"]


@given(rows=st.lists(st.tuples(_salts, _meters, _ticks), min_size=1, max_size=64))
@settings(**_SETTINGS)
def test_portable_prng_matches_duckdb_oracle_side(rows):
    """Third engine, other direction: the oracle-side SQL text
    (_u_sql) evaluated by DuckDB must also bit-equal the pure-Python
    reference — closing the Spark ≡ Python ≡ DuckDB triangle the
    hash-parity contract stands on. (No SparkSession needed: this leg
    is DuckDB + Python only, so hypothesis can afford it cheaply.)"""
    import duckdb

    from smart_meter_data_pipeline_spark.operators.meter_pipeline import (
        _u_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t (salt BIGINT, m BIGINT, tk BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    got = con.execute(
        f"SELECT salt, m, tk, {_u_sql(0, 'm', 'tk')} AS u0, "
        f"{_u_sql(7, 'm', 'tk')} AS u7 FROM t"
    ).fetchall()
    for salt, m, tk, u0, u7 in got:
        assert u0 == _u_py(0, m, tk), (m, tk)
        assert u7 == _u_py(7, m, tk), (m, tk)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(1, 5)),
        min_size=0,
        max_size=60,
    ),
    st.integers(2, 8),
)
def test_space_saving_invariants(items, capacity):
    """Metwally space-saving invariants for ANY input sequence and
    capacity: (1) the map never exceeds capacity; (2) tracked keys
    only ever OVER-estimate their true count (the eviction inherits
    counts, never drops them); (3) total mass is conserved."""
    from collections import Counter

    from smart_meter_data_pipeline_spark.streaming.stateful import (
        space_saving_fold,
    )

    m = {}
    space_saving_fold(m, items, capacity)
    true = Counter()
    for k, c in items:
        true[k] += c
    assert len(m) <= capacity
    for k, v in m.items():
        assert v >= true[k]
    assert sum(m.values()) == sum(true.values())


@given(
    sizes=st.lists(
        st.integers(min_value=0, max_value=5000), min_size=1, max_size=48
    ),
    budget=st.integers(min_value=1, max_value=8000),
)
@settings(**_SETTINGS)
def test_shard_pack_partitions_exactly_and_bounds_overflow(
    spark, sizes, budget
):
    """Offset-window shard packing invariants on adversarial size
    lists (shard = the budget-window the item's START offset falls
    in, so a jumbo item can legitimately skip window indices):
    (a) the shards partition the items exactly (no loss, no dup);
    (b) shard indices start at 0 and strictly increase;
    (c) every shard stays under budget + max_item (an item overflows
        only the window it starts in);
    (d) items stay in doc_id order: shard id ranges never overlap."""
    import smart_meter_data_pipeline_spark.operators.multimodal as mm

    rows = [("s", i, n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(
        rows, "source string, doc_id long, n_bytes int"
    ).select(
        "source",
        "doc_id",
        F.struct(
            F.col("n_bytes").alias("n_bytes"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )
    orig_budget = mm.SHARD_BUDGET_BYTES
    mm.SHARD_BUDGET_BYTES = budget
    try:
        out = sorted(
            mm.pack_shards(df).collect(), key=lambda r: r["shard_idx"]
        )
    finally:
        mm.SHARD_BUDGET_BYTES = orig_budget
    assert sum(r["n_items"] for r in out) == len(sizes)
    assert sum(r["shard_bytes"] for r in out) == sum(sizes)
    idxs = [r["shard_idx"] for r in out]
    assert idxs[0] == 0 and idxs == sorted(set(idxs))
    for r in out:
        assert r["shard_bytes"] <= budget + max(sizes)
    for a, b in zip(out, out[1:]):
        assert a["last_doc_id"] < b["first_doc_id"]


@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=64,
    )
)
@settings(**_SETTINGS)
def test_drawdown_matches_sequential_reference(spark, vals):
    """The windowed cumulative-max drawdown must equal the obvious
    sequential fold on arbitrary float series (selection + one
    subtraction — no float-reassociation surface)."""
    from smart_meter_data_pipeline_spark.operators.events_pipeline import (
        events_max_drawdown,  # noqa: F401  (shape under test inline)
    )
    from pyspark.sql import Window

    rows = [(1, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, value double")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = (
        df.withColumn("drop", F.max("value").over(w) - F.col("value"))
        .agg(F.max("drop"))
        .collect()[0][0]
    )
    run_max, best = float("-inf"), float("-inf")
    for v in vals:
        run_max = max(run_max, v)
        best = max(best, run_max - v)
    assert got == best


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),  # meter_id
            st.booleans(),                           # v is NULL?
        ),
        min_size=1,
        max_size=40,
    ),
    n_files=st.integers(min_value=1, max_value=4),
    lo=st.integers(min_value=-5, max_value=55),
    width=st.integers(min_value=0, max_value=30),
)
@settings(**_SETTINGS)
@pytest.mark.slow
def test_delete_where_equals_filter_property(
    spark, tmp_path_factory, vals, n_files, lo, width
):
    """delete_where soundness under ARBITRARY layouts and bounds:
    however rows shard into files and wherever the range lands, the
    surviving table must equal the three-valued-logic filter
    ``NOT (col BETWEEN lo AND hi) OR col IS NULL`` — whole-file drops
    and straddler rewrites are invisible to semantics."""
    import datetime as dt

    from smart_meter_data_pipeline_spark.sources import manifest

    hi = lo + width
    base = str(tmp_path_factory.mktemp("dw_prop"))
    t = manifest.ManifestTable(base + "/tbl")
    rows = [
        (
            dt.datetime(2024, 3, 1, 0, 0, 0) + dt.timedelta(minutes=i),
            m,
            None if is_null else m,
        )
        for i, (m, is_null) in enumerate(vals)
    ]
    per = max(1, len(rows) // n_files)
    for off in range(0, len(rows), per):
        df = spark.createDataFrame(
            rows[off : off + per],
            "reading_timestamp timestamp, meter_id bigint, v bigint",
        ).repartition(1)
        t.idempotent_append(spark, df)

    res = delete_where(t, spark, "v", lo=lo, hi=hi)
    want = [
        r for r in rows if r[2] is None or not (lo <= r[2] <= hi)
    ]
    got = t.read(spark)
    assert got.count() == len(want)
    assert res["rows_deleted"] == len(rows) - len(want)
    got_rows = sorted(
        ((r[0], r[1], r[2]) for r in got.collect()),
        key=lambda x: (x[0], x[1]),
    )
    assert got_rows == sorted(want, key=lambda x: (x[0], x[1]))


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),
            st.booleans(),
        ),
        min_size=1,
        max_size=40,
    ),
    n_files=st.integers(min_value=1, max_value=4),
    lo=st.integers(min_value=-5, max_value=65),
    width=st.integers(min_value=0, max_value=40),
    use_in=st.booleans(),
)
@settings(**_SETTINGS)
@pytest.mark.slow
def test_read_where_equals_filter_property(
    spark, tmp_path_factory, vals, n_files, lo, width, use_in
):
    """Read-path skipping soundness under arbitrary layouts: for ANY
    file sharding, range position, NULL mix and predicate form (range
    or IN-set, stats or bloom pruned), read(where=/where_in=) must
    equal the plain filter row-for-row — zone maps and blooms are IO
    optimizations only."""
    import datetime as dt

    from smart_meter_data_pipeline_spark.sources import manifest

    hi = lo + width
    base = str(tmp_path_factory.mktemp("rw_prop"))
    t = manifest.ManifestTable(
        base + "/tbl",
        stats_columns=["meter_id", "v"],
        bloom_columns=["meter_id"],
    )
    rows = [
        (
            dt.datetime(2024, 3, 1, 0, 0, 0) + dt.timedelta(minutes=i),
            m,
            None if is_null else m * 2,
        )
        for i, (m, is_null) in enumerate(vals)
    ]
    per = max(1, len(rows) // n_files)
    for off in range(0, len(rows), per):
        t.idempotent_append(
            spark,
            spark.createDataFrame(
                rows[off : off + per],
                "reading_timestamp timestamp, meter_id bigint, v bigint",
            ).repartition(1),
        )
    if use_in:
        in_set = list(range(lo, min(hi, lo + 5) + 1))
        got = read_where(t, spark, where_in={"meter_id": in_set})
        want = [r for r in rows if r[1] in set(in_set)]
    else:
        got = read_where(
            t, spark, where={"meter_id": (lo, hi), "v": (lo, None)}
        )
        want = [
            r
            for r in rows
            if lo <= r[1] <= hi and r[2] is not None and r[2] >= lo
        ]
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows == sorted(want), (lo, hi, use_in)


@given(
    n=st.integers(min_value=1, max_value=120),
    parts=st.sampled_from([1, 2, 3, 8, 17]),
)
@settings(**_SETTINGS)
def test_prefix_sum_invariant_to_partition_count(spark, n, parts):
    """distributed_prefix_sum must return the SAME cumulative values
    for any partition count — the property that makes the plan safe
    under cluster-size / shuffle-partition changes."""
    from pyspark.sql import functions as F

    from smart_meter_data_pipeline_spark.operators.common import (
        distributed_prefix_sum,
    )

    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        ((F.col("id") * 13) % 7 - 3).cast("bigint").alias("v"),
    )
    got = {
        r["k"]: r["cum"]
        for r in distributed_prefix_sum(
            df, [F.col("k")], "v", "cum", n_parts=parts
        ).collect()
    }
    run = 0
    for k in range(n):
        run += (k * 13) % 7 - 3
        assert got[k] == run, (k, parts)


# -- commit-replay properties (round 14, no SparkSession needed) ----------

_file_universe = [f"f{i:02d}.parquet" for i in range(12)]


@st.composite
def _payload_chains(draw):
    """A random catalog-table payload chain: each payload adds fresh
    files (with #rows stats) and may remove currently-live ones —
    the add/remove shapes appends, CoW mutations, OPTIMIZE, and
    retention drops all produce."""
    n = draw(st.integers(min_value=1, max_value=6))
    live: list[str] = []
    fresh = iter(_file_universe)
    payloads = []
    for _ in range(n):
        removed = draw(
            st.lists(
                st.sampled_from(live) if live else st.nothing(),
                unique=True,
                max_size=len(live),
            )
        ) if live else []
        n_add = draw(st.integers(min_value=0, max_value=2))
        added = [next(fresh, None) for _ in range(n_add)]
        added = [f for f in added if f is not None]
        rows = {
            f: draw(st.integers(min_value=0, max_value=50))
            for f in added
        }
        live = [f for f in live if f not in removed] + added
        payloads.append(
            {
                "added": added,
                "removed": removed,
                "count": sum(rows.values()),
                "dates": draw(
                    st.lists(
                        st.sampled_from(["2024-01-01", "2024-01-02"]),
                        unique=True,
                        max_size=2,
                    )
                ),
                "stats": {
                    f: {"#rows": r, "meter_id": [0, 9]}
                    for f, r in rows.items()
                },
                "schema": None,
            }
        )
    return payloads


@given(payloads=_payload_chains())
@settings(**_SETTINGS)
def test_squash_payloads_replay_equivalence(payloads):
    """_squash_payloads must be a faithful REPLAY: the squashed
    payload's live set equals sequential replay, carried-through
    removals are exactly the in-window removals of files the window
    never added, stats cover only survivors, and (round 14) count
    equals the sum of surviving files' #rows — never the concatenated
    sum that double-counts rewrite lifecycles."""
    from smart_meter_data_pipeline_spark.sources.catalog import (
        _squash_payloads,
    )

    sq = _squash_payloads(payloads)
    live: list[str] = []
    ever_added: set[str] = set()
    carried: list[str] = []
    rows: dict[str, int] = {}
    for p in payloads:
        for f in p["removed"]:
            if f in live:
                live.remove(f)
            if f not in ever_added:
                carried.append(f)
        for f in p["added"]:
            live.append(f)
            ever_added.add(f)
        rows.update(
            {f: s["#rows"] for f, s in p.get("stats", {}).items()}
        )
    assert sorted(sq["added"]) == sorted(live)
    assert sorted(sq["removed"]) == sorted(carried)
    assert set(sq["stats"]) == set(live)
    assert not sq.get("count_is_upper_bound")
    assert sq["count"] == sum(rows[f] for f in live)


@given(payloads=_payload_chains(), probe=st.sampled_from(
    [None, {"2024-01-01"}, {"2024-01-02"}, {"2024-01-03"}]
))
@settings(**_SETTINGS)
def test_files_date_pruning_is_sound(tmp_path, payloads, probe):
    """ManifestTable._files date pruning properties: (a) removals
    ALWAYS apply (a pruned replay never resurrects a deleted file),
    (b) the pruned set is a subset of the unpruned live set, (c) a
    commit whose dates list is EMPTY contributes its adds to every
    probe (round 14 — dates-unknown must overlap everything), and
    (d) files added by commits whose dates overlap the probe are
    always present."""
    from smart_meter_data_pipeline_spark.sources.manifest import (
        ManifestTable,
    )

    t = ManifestTable(str(tmp_path / "t"))
    full = set(t._files(payloads))
    pruned = set(t._files(payloads, probe))
    assert pruned <= full
    # replay by hand to classify
    live: dict[str, dict] = {}
    for p in payloads:
        for f in p["removed"]:
            live.pop(f, None)
        for f in p["added"]:
            live[f] = p
    import os as _os

    for f, p in live.items():
        absf = _os.path.join(t.data_dir, f)
        dates = set(p.get("dates") or ())
        if probe is None or not dates or (dates & probe):
            assert absf in pruned, (f, p["dates"], probe)
    if probe is None:
        assert pruned == full
