"""The ``catalog_slice`` workload: a fixed slice of the analytics catalog
in the cold regime (session caches cleared before every entry), each
entry checked against its DuckDB oracle.

Fixture-cache state: the catalog fits PCA/BPE/IVF/PQ/OPQ artifacts and
EVM store fixtures into ``.fixture_cache`` / ``.ivf_cache`` on first
use.  ``build.py`` fills them once per checkout over the benchmark's own
tables and keeps a copy; every run's set-up restores exactly that copy,
so every run starts from the same filled caches and the restore is part
of ``setup_s``.
"""

from __future__ import annotations

import shutil
import time
from contextlib import contextmanager
from pathlib import Path

from common import (
    ROOT, WORK, cpu_seconds, fresh_dir, geomean, median, peak_rss_mb, start_spark,
    stop_jvm, timed_setups,
)

# ROADMAP targets A (corpus_report, the dedup graph, the OPQ kNN join),
# B (semantic_admit_delta), C (the trigram backoff chain, the shared
# IVF/PQ scoring core) and an EVM store read through Spark: one entry per
# operator family, so a run fits the benchmark's time budget.  The full
# catalog stays bench.py's job.
SLICE = (
    "corpus_report", "dedup_clusters", "semantic_admit_delta",
    "similarity_opq_residual_knn_join", "lm_stupid_backoff_tri",
    "store_logs_cursor_page",
)
DATA_SEED = 42  # the tables, like the slice and its order, are the same in every run
BUILD = WORK / "build" / "catalog"
# named like the engine's sf0.01 test scale: oracles of the fitted
# entries read artifacts keyed by this directory name
DATA = BUILD / "sf0.01"
CACHES = (".fixture_cache", ".ivf_cache")


def _restore_caches() -> None:
    for name in CACHES:
        shutil.rmtree(ROOT / name, ignore_errors=True)
        if (BUILD / name).is_dir():
            shutil.copytree(BUILD / name, ROOT / name)


@contextmanager
def own_fixture_caches():
    """Move the checkout's own fixture caches aside for the run and put
    them back after: the benchmark's are fitted on its own tables under
    the same ``sf0.01`` names, and must not outlive the run."""
    stash = WORK / "stash"
    if stash.exists():  # an earlier run ended before putting them back
        _put_back(stash)
    stash.mkdir(parents=True)
    for name in CACHES:
        if (ROOT / name).exists():
            (ROOT / name).rename(stash / name)
    try:
        yield
    finally:
        _put_back(stash)


def _put_back(stash: Path) -> None:
    for name in CACHES:
        shutil.rmtree(ROOT / name, ignore_errors=True)
        if (stash / name).exists():
            (stash / name).rename(ROOT / name)
    shutil.rmtree(stash)


def build() -> None:
    """Generate the tables and fill the fixture caches (own process)."""
    import testdata

    fresh_dir(BUILD)
    testdata.generate(DATA, DATA_SEED)
    with own_fixture_caches():
        _fill_caches()


def _fill_caches() -> None:
    from rust_evm_indexer_spark.catalog import (
        CATALOG, clear_session_caches, ensure_evm_fixture_parquet,
        ensure_u256_fixture_parquet,
    )

    spark = start_spark()
    ensure_evm_fixture_parquet()
    ensure_u256_fixture_parquet()
    for name in SLICE:
        clear_session_caches()
        CATALOG[name].fn(spark, str(DATA)).toPandas()
    clear_session_caches()
    spark.stop()
    stop_jvm()
    for name in CACHES:
        if (ROOT / name).is_dir():
            shutil.copytree(ROOT / name, BUILD / name)


def _warm_up(spark) -> None:
    """One small scan-join-aggregate-collect, so the session's first-job
    costs land in set-up instead of on whichever entry runs first."""
    from pyspark.sql import functions as F

    read = lambda t: spark.read.parquet(str(DATA / f"{t}.parquet"))  # noqa: E731
    (read("lineitem").join(read("orders"), F.expr("l_orderkey = o_orderkey"))
     .groupBy("o_orderpriority").count().toPandas())


def _plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning, from the query's
    planning tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        if opt.isDefined():
            total += opt.get().durationMs()
    return float(total)


def catalog_slice(seed: int, seconds: float, tracer) -> dict:
    """One cold pass over the slice; it takes longer than ``seconds``
    and repeats nothing, and the seed changes no input."""
    with own_fixture_caches():
        return _catalog_slice(tracer)


def _catalog_slice(tracer) -> dict:
    import duckdb

    from tests.compare import assert_frames_match

    from rust_evm_indexer_spark.catalog import (
        CATALOG, clear_session_caches, ensure_evm_fixture_parquet,
        ensure_u256_fixture_parquet,
    )

    run_dir = fresh_dir(WORK / "run" / "catalog_slice")
    conf = tracer.spark_conf(run_dir)
    restore_s: list[float] = []

    def setup():
        t = time.perf_counter()
        _restore_caches()
        ensure_evm_fixture_parquet()
        ensure_u256_fixture_parquet()
        restore_s.append(time.perf_counter() - t)
        with tracer.span("session.start", "session"):
            spark = start_spark(conf)
            _warm_up(spark)
        tracer.spark = spark
        duck = duckdb.connect()
        for p in sorted(DATA.glob("*.parquet")):
            duck.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
        return spark, duck

    def teardown(state):
        state[1].close()
        state[0].stop()

    (spark, duck), setup_s, setup_times = timed_setups(setup, teardown, repeats=5)

    # a fixed order: the first entry of an operator family pays that
    # family's code generation, so a seeded order would move cost
    # between entries from run to run
    order = list(SLICE)
    per: dict[str, dict] = {}
    mismatches: dict[str, str] = {}
    t0 = time.perf_counter()
    cpu0 = cpu_seconds()
    # one pass: a second pass would run warm, another regime
    for name in order:
        entry = CATALOG[name]
        with tracer.span("catalog.clear_session_caches", "catalog"):
            clear_session_caches()
        with tracer.span(f"catalog.{name}.build", "catalog", jobs=True) as sb:
            t = time.perf_counter()
            df = entry.fn(spark, str(DATA))
            build = time.perf_counter() - t
        with tracer.span(f"operators.{name}.exec", "operators", jobs=True) as se:
            t = time.perf_counter()
            got = df.toPandas()
            exe = time.perf_counter() - t
            if tracer.enabled:
                plan_ms = _plan_ms(df)
        per[name] = {"build_s": build, "exec_s": exe, "got": got}
        if tracer.enabled:
            per[name].update(plan_ms=plan_ms, spans=[sb, se])
    t1 = time.perf_counter()
    cpu = cpu_seconds() - cpu0
    for name, r in per.items():  # outside the measured window
        try:
            assert_frames_match(r["got"], duck.execute(CATALOG[name].oracle).df(), name)
        except AssertionError as e:
            mismatches[name] = str(e)[:300]
    rss = peak_rss_mb()
    teardown((spark, duck))

    entry_s = {n: r["build_s"] + r["exec_s"] for n, r in per.items()}
    wall = t1 - t0
    detail = {
        "catalog_wall_s": wall,
        "catalog_geomean_s": geomean(entry_s.values()),
        "order": order,
        "entry_s": entry_s,
        "fixture_restore_s": restore_s,
        "setup_times": setup_times,
        "rss_mb": rss,
        "cpu_s": cpu,
        "mismatches": mismatches,
    }
    layers = {}
    if tracer.enabled:
        tracer.attribute_jobs()
        layers = _layers(tracer, per, restore_s, t0, t1)
        detail["stage_bytes"] = layers.pop("_stage_bytes")
    return {
        "correct": not mismatches,
        "attempted": len(SLICE),
        "failed": 0,
        "e2e": {
            "setup_s": setup_s,
            "peak_rss_mb": rss["total"],
            "op_p50_ms": 1000 * median(entry_s.values()),
            "ops_per_s": len(SLICE) / wall,
        },
        "detail": detail,
        "layers": layers,
    }


def _layers(tracer, per, restore_s, t0, t1) -> dict:
    out: dict = {}
    entry_bytes = {}
    for name, r in per.items():
        out[f"catalog.{name}.build_s"] = r["build_s"]
        out[f"catalog.{name}.exec_s"] = r["exec_s"]
        out[f"catalog.{name}.jobs"] = sum(s.jobs for s in r["spans"])
        out[f"catalog.{name}.plan_ms"] = r["plan_ms"]
        entry_bytes[name] = {k: sum(s.bytes[k] for s in r["spans"])
                             for k in r["spans"][0].bytes}
    out["catalog.clear_caches_s"] = sum(
        s.dur for s in tracer.named("catalog.clear_session_caches", t0, t1))
    out["catalog.fixture_fill_s"] = median(restore_s)
    out["catalog.shuffle_bytes"] = sum(v["shuffle_write"] for v in entry_bytes.values())
    out["catalog.spill_bytes"] = sum(v["spill_memory"] + v["spill_disk"]
                                     for v in entry_bytes.values())
    out.update(tracer.summary(t0, t1))
    out["_stage_bytes"] = entry_bytes
    return out

