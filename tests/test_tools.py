"""Unit tests for the measurement tools themselves (spill_check's
distributed checksum, soak stream generators, rehearsal session knobs)
— the artifacts they produce back scale claims, so their own
correctness is load-bearing."""

from __future__ import annotations

from pyspark.sql import functions as F

from lime_etl_spark.tools.spill_check import content_checksum


def test_content_checksum_order_independent(spark):
    a = spark.createDataFrame(
        [(1, "x", 1.5), (2, "y", 2.5), (3, None, None)],
        "id bigint, s string, v double",
    )
    b = a.orderBy(F.col("id").desc()).repartition(3)
    assert content_checksum(a) == content_checksum(b)


def test_content_checksum_detects_value_change(spark):
    a = spark.createDataFrame([(1, 1.5), (2, 2.5)], "id bigint, v double")
    b = spark.createDataFrame([(1, 1.5), (2, 2.6)], "id bigint, v double")
    c = spark.createDataFrame([(1, 1.5), (2, None)], "id bigint, v double")
    assert content_checksum(a) != content_checksum(b)
    assert content_checksum(a) != content_checksum(c)


def test_content_checksum_absorbs_float_noise(spark):
    """Spill changes accumulation order; sub-6dp float noise must not
    flip the digest (queries define outputs to 6dp)."""
    a = spark.createDataFrame([(1, 0.1 + 0.2)], "id bigint, v double")
    b = spark.createDataFrame([(1, 0.3000000000000004)], "id bigint, v double")
    assert content_checksum(a) == content_checksum(b)


def test_content_checksum_arrays_and_rowcount(spark):
    a = spark.createDataFrame([(1, [1.0, 2.0])], "id bigint, v array<double>")
    b = spark.createDataFrame([(1, [1.0, 2.5])], "id bigint, v array<double>")
    assert content_checksum(a) != content_checksum(b)
    digest, rows = content_checksum(a)
    assert rows == 1


def test_soak_rate_schemas_match_consumers(spark):
    """The soak's synthetic streams must carry the columns the real
    operators consume (session_windows needs value; dedup needs
    doc_id/text) — a drift here would crash mid-soak, 3 minutes in."""
    from lime_etl_spark.tools.streaming_soak import rate_documents, rate_events

    ev = rate_events(spark, 1)
    assert {"event_id", "ts", "user_id", "event_type", "value"} <= set(ev.columns)
    docs = rate_documents(spark, 1)
    assert {"doc_id", "text"} <= set(docs.columns)


def test_content_checksum_canonicalizes_negative_zero(spark):
    """±1e-7 rounds to -0.0 vs 0.0 across spill-reordered runs — both
    must hash identically (review finding)."""
    a = spark.createDataFrame([(1, 1e-7)], "id bigint, v double")
    b = spark.createDataFrame([(1, -1e-7)], "id bigint, v double")
    assert content_checksum(a) == content_checksum(b)


def test_content_checksum_rounds_array_elements(spark):
    """Doubles INSIDE arrays get the same 6dp canonicalization as
    top-level doubles (review finding: centroid vectors reorder under
    spill too)."""
    a = spark.createDataFrame([(1, [0.1 + 0.2, -1e-7])], "id bigint, v array<double>")
    b = spark.createDataFrame([(1, [0.3000000000000004, 1e-7])], "id bigint, v array<double>")
    assert content_checksum(a) == content_checksum(b)


def test_parse_byte_conf_rejects_garbage_suffix():
    """'128mk' must fall back to the default, not parse as 128 bytes
    (review finding)."""
    from lime_etl_spark.registry import _parse_byte_conf as p

    assert p("128mk") == 134217728
    assert p("1bg") == 134217728
    assert p("128mk", default=7) == 7


def test_rate_documents_distinct_up_to_vocab(spark):
    """vocab_docs distinct base documents must actually be distinct —
    an earlier %97 word hash capped them at 97 (review finding). The
    rate source can't run in a unit test; replicate the text expression
    over a static range."""
    from pyspark.sql import functions as F

    vocab = 400
    base = F.col("value") % vocab
    words = F.transform(
        F.sequence(F.lit(0), F.lit(11)),
        lambda i: F.concat(F.lit("w"), ((base * 31 + i * 13) % 9973).cast("string")),
    )
    df = spark.range(vocab).select(F.col("id").alias("value")).select(
        F.array_join(words, " ").alias("text")
    )
    assert df.distinct().count() == vocab


def test_bench_exec_metric_honest_for_eager_plans():
    """r5 verdict 'what's wrong #1': BENCH carried a 76x-understated
    exec-only number for queries whose construction executes eagerly.
    The harness must (a) flag them in the registry, (b) publish
    fresh-plan warm as their exec metric."""
    import bench
    from lime_etl_spark.registry import REGISTRY

    # the known eager constructors are flagged
    assert REGISTRY["dedup_near_dup_groups"].eager_plan
    assert REGISTRY["dedup_components"].eager_plan
    # lazy headline queries are not
    assert not REGISTRY["q1_pricing_summary"].eager_plan
    # metric selection: eager -> fresh warm; lazy -> built-plan re-run
    assert bench.exec_metric(True, 3.4, 0.044) == 3.4
    assert bench.exec_metric(False, 3.4, 0.044) == 0.044


def test_fault_check_sentinels_mix_and_unknown_names():
    """@primary/@all expand wherever they appear in the query list, and
    an unknown name dies with a friendly SystemExit BEFORE any Spark
    session spins up — it used to KeyError deep inside the spawned
    phase only when the sentinel wasn't the entire list."""
    import pytest

    from lime_etl_spark.tools.fault_check import phase_retry

    with pytest.raises(SystemExit, match="unknown query 'nope'"):
        phase_retry("/nonexistent", "/tmp/out.json", queries=["@primary", "nope"])


def test_was_submitted_detects_pre_gateway_spark_submit(monkeypatch):
    """PYSPARK_GATEWAY_PORT (exported by spark-submit's PythonRunner
    before user code runs) must count as 'submitted' even when no py4j
    gateway is attached yet and SparkConf() is empty — otherwise the
    local[N] fallback overrides `spark-submit --master yarn`
    (round-6 advice: session.py:103)."""
    from lime_etl_spark.session import _was_submitted

    for var in ("PYSPARK_GATEWAY_PORT", "SPARK_MASTER", "MASTER"):
        monkeypatch.delenv(var, raising=False)
    # Simulate the pre-gateway state: SparkConf must not see a JVM-side
    # spark.master. In this pytest process a JVM may already exist with
    # spark.master set, so stub the conf probe to the empty pre-gateway
    # behavior rather than fighting the live session.
    import lime_etl_spark.session as sess_mod
    import pyspark

    class EmptyConf:
        def __init__(self, *a, **k):
            pass

        def contains(self, key):
            return False

    monkeypatch.setattr(pyspark, "SparkConf", EmptyConf)
    assert not _was_submitted()
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "43123")
    assert _was_submitted()


def test_local_session_sizing_from_env_and_host():
    """SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM parse strictly — a
    malformed value raises, never a silent default — and an unset
    driver memory is a quarter of RAM, at least 1 GiB. Pure parsing:
    starts no session."""
    import pytest

    from lime_etl_spark.session import _heap_floor, _local_cpus, _local_driver_mem

    assert _local_cpus("1") == 1 and _local_cpus("32") == 32
    for bad in ("0", "-2", "4.0", "four", "", " 4"):
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            _local_cpus(bad)

    for ok in ("3g", "3G", "512m", "1t", "4096k"):
        assert _local_driver_mem(ok) == ok
    for bad in ("3", "g", "3gb", "3.5g", "0g", " 3g", "-1g", ""):
        with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
            _local_driver_mem(bad)

    gib = 2**30
    assert _local_driver_mem(None, 128 * gib) == "32768m"
    assert _local_driver_mem(None, 15 * gib) == "3840m"
    assert _local_driver_mem(None, 2 * gib) == "1024m"  # floor: 1 GiB
    host = _local_driver_mem(None)
    assert host.endswith("m") and int(host[:-1]) >= 1024

    # the timing tools' -Xms floor never exceeds the heap (-Xms > -Xmx
    # stops the JVM at start)
    assert _heap_floor("32768m") == _heap_floor("1t") == _heap_floor("8G") == "8g"
    assert _heap_floor("3840m") == "3840m" and _heap_floor("4g") == "4g"
    assert _heap_floor("4194304k") == "4194304k"


def test_gencheck_canon_and_compare_primitives():
    """The generative harness's exactness primitives: full-precision
    hex floats, scale-insensitive Decimal normalization (Spark
    sum(dec(18,6)) -> dec(28,6) vs DuckDB dec(38,6) must compare
    equal), NaN stability, bytes, and order-insensitive rowset
    comparison with None-first ordering."""
    from decimal import Decimal

    from lime_etl_spark.tools.gencheck import canon, compare

    assert canon(0.1) == (0.1).hex()
    assert canon(float("nan")) == "nan"
    assert canon(Decimal("123.400000")) == canon(Decimal("123.40"))
    assert canon(Decimal("123.400001")) != canon(Decimal("123.40"))
    assert canon(b"\x00\xff") == "00ff"
    assert canon(None) is None

    rows_a = [(1, "x"), (None, "y"), (2, "z")]
    rows_b = [(2, "z"), (1, "x"), (None, "y")]
    assert compare(rows_a, ["i", "s"], rows_b, ["i", "s"]) == []
    # column-name mismatch reported before values
    errs = compare(rows_a, ["i", "s"], rows_b, ["i", "t"])
    assert errs and "columns" in errs[0]
    errs = compare(rows_a, ["i", "s"], rows_b[:2], ["i", "s"])
    assert errs and "rowcount" in errs[0]
    errs = compare([(1, "x")], ["i", "s"], [(1, "y")], ["i", "s"])
    assert errs and "values" in errs[0]
    # column ORDER must not matter (compare sorts by name)
    assert compare(
        [("x", 1)], ["s", "i"], [(1, "x")], ["i", "s"]
    ) == []


def test_gencheck_hash_mode_matches_full_mode(spark, sf_dir, oracle_sf_dir):
    """The collect-free hash compare (r9 verdict task #2) must deliver
    the SAME verdicts as the full row-by-row compare: identical
    pass/fail and row counts over a seed block, and a planted
    single-cell diff must flip the hash while leaving the count."""
    from lime_etl_spark.tools import gencheck as gc

    duck = gc.duck_connect(oracle_sf_dir)
    try:
        for seed in (0, 1, 2, 7, 11, 13):
            full = gc.check_seed(spark, duck, seed, oracle_sf_dir, "full")
            hsh = gc.check_seed(spark, duck, seed, oracle_sf_dir, "hash")
            assert ("rows" in full) == ("rows" in hsh), (seed, full, hsh)
            assert full.get("rows") == hsh.get("rows"), (seed, full, hsh)
            assert "error" not in full and "error" not in hsh, (full, hsh)
    finally:
        duck.close()

    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    c1, a1, cols1 = gc._spark_hash_fold(base)
    c2, a2, _ = gc._spark_hash_fold(
        base.withColumn(
            "v", F.when(F.col("k") == 37, F.lit(-1)).otherwise(F.col("v"))
        )
    )
    assert (c1, cols1) == (100, ["k", "v"])
    assert c2 == c1 and a2 != a1  # value diff caught, count unchanged


def test_gencheck_hash_canon_unifies_exact_numerics():
    """DuckDB's Arrow reader surfaces HUGEINT aggregates as
    decimal128(38,0) where fetchall() coerces to int — the hash canon
    must land int 7, Decimal('7'), and Decimal('7.00') on one text,
    while keeping bools, floats, and non-integral decimals distinct."""
    from decimal import Decimal

    from lime_etl_spark.tools.gencheck import _canon_cell

    assert _canon_cell(7) == _canon_cell(Decimal("7")) == _canon_cell(Decimal("7.00"))
    assert _canon_cell(Decimal("7.5")) == _canon_cell(Decimal("7.50"))
    assert _canon_cell(7) != _canon_cell(Decimal("7.5"))
    assert _canon_cell(True) != _canon_cell(1)
    assert _canon_cell(7.0) != _canon_cell(7)  # float stays IEEE-hex
    assert _canon_cell(None) is None
    import datetime as dt

    naive = dt.datetime(2026, 1, 2, 3, 4, 5)
    aware = dt.datetime(2026, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc)
    assert _canon_cell(naive) == _canon_cell(aware)


def test_tool_sessions_take_validated_driver_heap():
    """fault_check's retry and kill phases and spill_check's cluster
    phase size the driver heap from the session factory: unset, it is
    the host-sized default (not a fixed 16g/8g); malformed, the tool
    raises before any session starts. ``get_spark`` is replaced by a
    stub that records ``extra_conf`` and stops the phase, in a fresh
    interpreter so the session module reads the env at import."""
    import json
    import os
    import subprocess
    import sys

    from lime_etl_spark.session import _local_driver_mem

    script = """
import json
import lime_etl_spark.session as session
from lime_etl_spark.tools import fault_check, spill_check

seen = []

class Stop(Exception):
    pass

def stub(app_name, master=None, shuffle_partitions=None, extra_conf=None):
    seen.append(extra_conf["spark.driver.memory"])
    raise Stop

session.get_spark = stub
for phase in (
    lambda: fault_check.phase_retry("/nonexistent", "/nonexistent/o.json"),
    lambda: fault_check.phase_kill("/nonexistent", "/nonexistent/o.json", "1g"),
    lambda: spill_check.run_phase(
        "/nonexistent", [], "/nonexistent/o.json", master="local-cluster[1,1,1024]"
    ),
):
    try:
        phase()
    except Stop:
        pass
print(json.dumps(seen))
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def run(mem):
        env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_DRIVER_MEM"}
        env["PYTHONPATH"] = repo
        if mem is not None:
            env["SPARK_GRAFT_DRIVER_MEM"] = mem
        return subprocess.run(
            [sys.executable, "-c", script], env=env, capture_output=True, text=True,
            timeout=120,
        )

    unset = run(None)
    assert unset.returncode == 0, unset.stderr
    assert json.loads(unset.stdout.splitlines()[-1]) == [_local_driver_mem(None)] * 3

    bad = run("16gb")
    assert bad.returncode != 0
    assert "SPARK_GRAFT_DRIVER_MEM must be" in bad.stderr


def test_sweep_tallies_records_and_stops_at_floor(capsys):
    """The shared seed loop: passing records add their rows, mismatch and
    error records are failures, every record's ops feed the histogram,
    a None record is drawn but not counted, and a stop predicate ends
    the sweep at the first seed where it holds."""
    from lime_etl_spark.tools import sweep

    def check(seed):
        if seed == 12:
            return None  # e.g. over the checker's wall budget
        if seed % 5 == 3:
            return {"seed": seed, "ops": ["b:x=1"], "mismatch": ["diff"]}
        if seed % 5 == 4:
            return {"seed": seed, "ops": ["c"], "error": "boom"}
        return {"seed": seed, "ops": ["a:k=1", "a:k=2"], "rows": seed}

    sw = sweep.Sweep().run(check, range(10, 20))
    rep = sw.report({"harness": "fake"})
    assert list(rep) == [
        "harness", "seeds_run", "seed_min", "seed_max", "failures",
        "failure_count", "rows_compared_total", "op_histogram", "elapsed_sec",
    ]
    assert (rep["seeds_run"], rep["seed_min"], rep["seed_max"]) == (9, 10, 19)
    assert [f["seed"] for f in rep["failures"]] == [13, 14, 18, 19]
    assert rep["failure_count"] == 4
    assert rep["rows_compared_total"] == 10 + 11 + 15 + 16 + 17
    assert rep["op_histogram"] == {"a": 10, "b": 2, "c": 2}

    two = sweep.Sweep(label=lambda op: ":".join(op.split(":")[:2])).run(
        check, range(10, 15)
    )
    assert dict(two.ops) == {"a:k=1": 2, "a:k=2": 2, "b:x=1": 1, "c": 1}

    floor = sweep.Sweep().run(
        check, range(10, 1000), stop=lambda sw: sw.floor_met(["b", "c"], 2)
    )
    assert floor.drawn == list(range(10, 20))  # c reaches 2 at seed 19
    rep = floor.report({}, histogram=False, tail={"extra": 1})
    assert "op_histogram" not in rep and list(rep)[-2:] == ["extra", "elapsed_sec"]

    empty = sweep.Sweep().run(check, range(0)).report({})
    assert (empty["seeds_run"], empty["seed_min"], empty["seed_max"]) == (0, None, None)

    sweep.emit(rep, None)
    line = capsys.readouterr().out.splitlines()
    assert len(line) == 5 and '"failures"' not in line[0]  # report + 4 failures


def test_family_pick_seed_mapping_pinned():
    """The weighted family pick must consume the RNG exactly as the
    committed GENCHECK artifacts were drawn: the seed -> family names
    of composegen, opsgen and llmgen over seeds 0-499, pinned as the
    sha256 of the comma-joined names."""
    import hashlib
    import random

    from lime_etl_spark.tools import composegen, llmgen, opsgen
    from lime_etl_spark.tools.sweep import pick_family

    want = {
        composegen: "22bb59a2c93dd33e4c2f9d858f48971efa84ada1582337da909f05d215f02e4c",
        opsgen: "a0f1a585741f792013bd11d1d6356c6748f1ef9e1869dab7aa0a9e8a54af52ae",
        llmgen: "da1ca93e6db54f723a91a2a534ca2ca61c54bc95bdae7c82ae85e898a4849b05",
    }
    for mod, digest in want.items():
        names = ",".join(
            pick_family(random.Random(s), mod.FAMILIES).__name__ for s in range(500)
        )
        assert hashlib.sha256(names.encode()).hexdigest() == digest, mod.__name__


def test_gencheck_min_op_targets_and_times_out(monkeypatch):
    """gencheck --min-op with fakes in place of Spark, DuckDB and qgen:
    a seed over its wall budget is listed, not counted, and its DuckDB
    connection is closed and replaced; the plan-only scan then targets
    the first seed that draws the op still under the floor, and the
    sweep stops once the floor is met."""
    import threading

    from lime_etl_spark.tools import gencheck as gc
    from lime_etl_spark.tools import qgen

    released = threading.Event()
    conns = []

    class Duck:
        closed = False

        def interrupt(self):
            released.set()

        def close(self):
            self.closed = True

    class Spark:
        class sparkContext:
            @staticmethod
            def cancelAllJobs():
                pass

    class Rel:
        def __init__(self, seed):
            self.ops = ["base", "asof:k"] if seed == 1_000_003 else ["base"]

    def check_seed(spark, duck, seed, sf_dir, compare_mode):
        if seed == 1:
            released.wait(30)  # hangs until the timeout interrupts it
        return {"seed": seed, "ops": Rel(seed).ops, "rows": 1}

    monkeypatch.setattr(gc, "QGEN_OPS", ["asof", "base"])
    monkeypatch.setattr(gc, "check_seed", check_seed)
    monkeypatch.setattr(gc, "duck_connect", lambda sf_dir: conns.append(Duck()) or conns[-1])
    monkeypatch.setattr(qgen, "generate_query", lambda seed, spark, sf_dir: Rel(seed))

    rep = gc.run_sweep_min_ops(Spark(), "unused", 0, 3, 1, seed_timeout=0.5)
    assert rep["timed_out_seeds"] == [1]
    assert rep["targeted_seeds"] == [1_000_003]
    assert (rep["seeds_run"], rep["seed_min"], rep["seed_max"]) == (3, 0, 2)
    assert rep["ops_floor_met"] and rep["op_histogram"] == {"asof": 1, "base": 3}
    assert rep["rows_compared_total"] == 3 and rep["failure_count"] == 0
    assert len(conns) == 2 and all(c.closed for c in conns)
