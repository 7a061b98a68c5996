#!/usr/bin/env python3
"""Benchmark the cube build and the operator query mix.

    python3 perfbench/run.py --workload cube_create --seed 1 --seconds 20 --trace 0

Run from the repository root. Each workload is a closed loop with one
client: a pass starts only after the previous one returns, and passes repeat
until ``--seconds`` have been measured (at least one). The session start,
input generation and one warm-up pass are set-up, not measured passes; the
warm-up pass's outputs are checked in full. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
full run record (host facts, spans, per-pass counts, checks) goes to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``.

Workloads (see README.md):

* ``cube_create`` -- the paper's ``create`` on a seeded FITS corpus, fresh
  warehouse every pass: header cache, ingest images, ingest spectra, link,
  ML cube, visualization cube, VOTable export of one zoom, SFR join.
* ``query_mix`` -- registered queries of ``__spark_entry__`` over seeded
  tables, in a seeded order, each written to the noop sink.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from corpus import Shape  # noqa: E402

WORKLOADS = ("cube_create", "query_mix")
# pass time on a 4-core host; sets how many passes fill --seconds
NOMINAL_PASS_S = {"cube_create": 15.0, "query_mix": 6.5}
FREE_FLOOR_BYTES = 2 << 30
MAX_CORES = 4
DRIVER_MEMORY = "3g"

CUBE_BOUNDARIES = (
    "headers", "ingest_images", "ingest_spectra", "link",
    "ml_cube", "viz", "export", "sfr",
)
BOUNDARY_QUANTITIES = (
    "s", "s_per_item", "driver_s", "exec_cpu_s", "gc_s",
    "jobs", "tasks", "shuffle_write_mb", "spill_mb",
)
CUBE_SHAPE = Shape(fields=6, width=256, height=186, spectra=9)
EXPORT_ZOOM = 2
MATCH_RADIUS_DEG = 0.05
QUERIES = (
    # crossmatch and tiles
    "flagship_ml_cube", "j2_crossmatch", "j5_tiled_cutout_service",
    # bucketing
    "j_bucketed_flagship",
    # scan and window
    "q1_pricing_summary", "w_cumulative_sum",
    # iterative loop (connected components)
    "dedup_clusters",
    # pins and an iterative loop (BPE merges)
    "text_bpe_train",
    # other operator families
    "dedup_minhash_lsh", "cdc_apply_changelog",
)
MIX_TOTALS = ("driver_s", "exec_cpu_s", "gc_s", "tasks", "shuffle_write_mb", "spill_mb")

UNITS = {
    "s": "s", "s_per_item": "s", "driver_s": "s", "exec_cpu_s": "s",
    "gc_s": "s", "jobs": "count", "tasks": "count",
    "shuffle_write_mb": "MB", "spill_mb": "MB",
}


def per_layer_names() -> list[tuple[str, str]]:
    names = [(f"{b}.{q}", UNITS[q]) for b in CUBE_BOUNDARIES for q in BOUNDARY_QUANTITIES]
    for q in QUERIES:
        names += [(f"q.{q}.s", "s"), (f"q.{q}.jobs", "count")]
    names += [(f"mix.{m}", UNITS[m]) for m in MIX_TOTALS]
    names += [
        ("mix.pins_live", "count"), ("session.start_s", "s"),
        ("peak_rss_mb", "MB"),
        ("storage_ratio", "ratio"), ("error_rate", "ratio"),
        ("trace.pass_s", "s"), ("trace.root_self_share", "ratio"),
    ]
    return names


class Run:
    """One benchmark invocation: session, work root, counters, record."""

    def __init__(self, args):
        self.args = args
        self.k = min(MAX_CORES, os.cpu_count() or 1)
        self.root = os.path.join(
            REPO, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "seconds": args.seconds}
        self.spark = None
        self.tracer = None
        self.heap_retained_mb = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def start_session(self) -> float:
        from hiss_cube_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.k}]",
            shuffle_partitions=self.k,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.root, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.root, "spark-warehouse"),
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.root, 'tmp')}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        return time.perf_counter() - t0

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def stop_session(self) -> None:
        """Stop Spark and wait for the gateway JVM, also after a failed start."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                try:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                except (OSError, subprocess.TimeoutExpired):
                    proc.kill()
                    proc.wait()

    def timed_passes(self, one_pass) -> list:
        """Closed loop of ``--seconds / NOMINAL_PASS_S`` passes (at least
        one): a fixed count, so every run of a workload measures the same
        work at the same point of the JVM's warm-up curve. The retained heap
        is read right after the last pass, before any output check."""
        n = max(1, round(self.args.seconds / NOMINAL_PASS_S[self.args.workload]))
        roots, steal = [], []
        for i in range(1, n + 1):
            s0 = steal_seconds()
            roots.append(one_pass(i))
            steal.append(round(steal_seconds() - s0, 2))
        self.heap_retained_mb = self.retained_heap_mb()
        # CPU time the hypervisor gave other guests while this one wanted
        # it, summed over all CPUs: a main source of run-to-run spread
        self.record["pass_steal_s"] = steal
        return roots

    def retained_heap_mb(self) -> float:
        """Driver heap still in use after the measured passes, once garbage
        is gone. Python's cycle collector runs first: until it frees the
        py4j proxies of dead DataFrames, their JVM objects and pinned RDDs
        stay reachable. Then three full GCs, each followed by a pause in
        which Spark's context cleaner drops the RDD, shuffle and broadcast
        state the GC released."""
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        for _ in range(3):
            jvm.java.lang.System.gc()
            time.sleep(0.3)
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        return heap.getUsed() / 2**20


# ---------------------------------------------------------------------------
# cube_create
# ---------------------------------------------------------------------------


def run_cube(run: Run) -> dict:
    from pyspark.sql import functions as F

    import checks
    import corpus
    from hiss_cube_spark.operators.sfr import spectra_with_sfr
    from hiss_cube_spark.plans.pipeline import CubePipeline
    from hiss_cube_spark.sources.exports import write_votable
    from hiss_cube_spark.sources.fits import read_fits_table_df, scan_fits_headers
    from hiss_cube_spark.sources.ingest import ingest_images, ingest_spectra

    spark, tracer, shape = run.spark, run.tracer, CUBE_SHAPE
    t0 = time.perf_counter()
    src = corpus.make_corpus(os.path.join(run.root, "corpus"), run.args.seed, shape)
    n_distinct = len(set(corpus.spectrum_positions(run.args.seed, shape)))
    laws = checks.cube_laws(shape, n_distinct)
    gen_s = time.perf_counter() - t0
    wh = os.path.join(run.root, "warehouse")
    items = {
        "headers": shape.frames + shape.spectra, "ingest_images": shape.frames,
        "ingest_spectra": shape.spectra, "link": shape.spectra,
        "ml_cube": n_distinct, "sfr": shape.spectra,
        "viz": laws["visualization_cube"] / 1e6,
        "export": None,  # rows of the exported zoom, set after the first pass
    }

    def headers(pipe):
        h = scan_fits_headers(spark, src["images"]).unionByName(
            scan_fits_headers(spark, src["spectra"])
        )
        h.write.mode("overwrite").parquet(pipe.path("fits_headers"))

    vot = os.path.join(wh, f"visualization_zoom{EXPORT_ZOOM}.vot")

    def export(pipe):
        one = pipe.read("visualization_cube").where(F.col("zoom") == EXPORT_ZOOM)
        write_votable(one, vot)

    def sfr(pipe):
        meta = pipe.read("spectra").where(F.col("zoom") == 0).select(
            F.col("plateid").alias("PLATEID"), F.col("mjd").alias("MJD"),
            F.col("fiberid").alias("FIBERID"), "spec_id", "path",
            "plug_ra", "plug_dec",
        )
        merged = spectra_with_sfr(
            meta, read_fits_table_df(spark, src["gal_info"]),
            read_fits_table_df(spark, src["gal_sfr"]),
        )
        merged.write.mode("overwrite").parquet(pipe.path("spectra_sfr"))

    steps = (
        ("headers", headers),
        ("ingest_images", lambda p: p.write_bronze(ingest_images(spark, src["images"]), "images")),
        ("ingest_spectra", lambda p: p.write_bronze(ingest_spectra(spark, src["spectra"]), "spectra")),
        ("link", lambda p: p.phase_link()),
        ("ml_cube", lambda p: p.phase_ml_cube()),
        ("viz", lambda p: p.phase_visualization()),
        ("export", export),
        ("sfr", sfr),
    )
    law_of = {"images": "ingest_images", "spectra": "ingest_spectra",
              "cutout_refs": "link", "ml_cube_spectra": "ml_cube",
              "ml_cube_images": "ml_cube", "visualization_cube": "viz"}
    last_stats: dict = {}

    def one_pass(pass_id: int):
        shutil.rmtree(wh, ignore_errors=True)
        pipe = CubePipeline(spark, wh, match_radius_deg=MATCH_RADIUS_DEG,
                            zooms=checks.ZOOMS, cutout_size=corpus.CUTOUT)
        bad: set[str] = set()
        tracer.begin_pass(pass_id)
        for i, (name, fn) in enumerate(steps):
            try:
                tracer.call(name, fn, pipe)
            except Exception as exc:  # noqa: BLE001 - counted, reported
                bad.update(n for n, _ in steps[i:])
                run.failures.append(f"pass {pass_id} {name}: {exc!r}"[:300])
                break
        root = tracer.end_pass()
        run.attempted += len(steps)
        for table, want in laws.items():
            if pipe.stats.get(table) != want:
                bad.add(law_of[table])
                run.failures.append(f"pass {pass_id} {table}: {pipe.stats.get(table)} != {want}")
        run.failed += len(bad)
        last_stats.clear()
        last_stats.update(pipe.stats)
        return root

    def gold_digests() -> dict:
        read = lambda t: spark.read.parquet(os.path.join(wh, t))  # noqa: E731
        out = {t: checks.digest(read(t)) for t in ("ml_cube_spectra", "ml_cube_images", "spectra_sfr")}
        sfr_df = read("spectra_sfr")
        out["spectra_sfr.rows"] = sfr_df.count()
        out["spectra_sfr.matched"] = sfr_df.where(F.col("MEDIAN").isNotNull()).count()
        out["fits_headers.rows"] = read("fits_headers").count()
        out["export_rows"] = read("visualization_cube").where(F.col("zoom") == EXPORT_ZOOM).count()
        out["vot_rows"], out["vot_digest"] = checks.votable_digest(vot)
        return out

    def check_digests(tag: str, got: dict, ref: dict | None) -> None:
        run.attempted += 1
        want = {"spectra_sfr.rows": shape.spectra, "spectra_sfr.matched": len(corpus.catalogued(shape)),
                "fits_headers.rows": shape.frames + shape.spectra,
                "vot_rows": got["export_rows"]}
        bad = [k for k, v in want.items() if got[k] != v]
        if ref is not None:
            bad += [k for k, v in ref.items() if got.get(k) != v]
        if bad:
            run.fail(f"{tag}: {bad}")

    warm = one_pass(0)
    setup_end = time.perf_counter()
    first = gold_digests()
    pins = load_pins().get("cube_create", {}).get(str(run.args.seed))
    check_digests("warm-up digests", first, pins)
    items["export"] = first["export_rows"] / 1e6
    fits_bytes = src["fits_bytes"]
    storage = dir_bytes(wh) / fits_bytes

    roots = run.timed_passes(one_pass)
    last = gold_digests()
    check_digests("last-pass digests", last, first)
    if run.args.record_pins:
        save_pin("cube_create", run.args.seed, first)

    run.record.update(
        corpus_shape=shape.as_dict(), corpus_fits_bytes=fits_bytes,
        distinct_targets=n_distinct, laws=laws, last_pass_stats=last_stats,
        digests=first, pinned=pins is not None, gen_s=gen_s,
        warmup_pass_s=warm.seconds,
    )
    return {"roots": roots, "setup_end": setup_end, "items": items,
            "storage_ratio": storage}


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


def run_mix(run: Run) -> dict:
    import checks
    import tables

    import __spark_entry__ as entry

    spark, tracer = run.spark, run.tracer
    sf = os.path.join(run.root, "sf")
    t0 = time.perf_counter()
    tables.make_tables(sf, run.args.seed)
    gen_s = time.perf_counter() - t0
    registry, oracle_sql = entry.queries(), entry.oracle_sql()
    order = random.Random(run.args.seed)
    jsc = spark.sparkContext._jsc
    pins_start = int(jsc.getPersistentRDDs().size())
    pins_live: list[int] = []

    def one_pass(pass_id: int):
        names = list(QUERIES)
        order.shuffle(names)
        tracer.begin_pass(pass_id)
        for name in names:
            run.attempted += 1
            try:
                tracer.call(
                    name,
                    lambda n=name: registry[n](spark, sf)
                    .write.format("noop").mode("overwrite").save(),
                )
            except Exception as exc:  # noqa: BLE001
                run.fail(f"pass {pass_id} {name}: {exc!r}"[:300])
            spark.catalog.clearCache()
        root = tracer.end_pass()
        pins_live.append(int(jsc.getPersistentRDDs().size()) - pins_start)
        return root

    # warm-up 1: every query once, collected for the oracle check
    results = {}
    tracer.begin_pass(0)
    for name in QUERIES:
        try:
            results[name] = tracer.call(name, lambda n=name: registry[n](spark, sf).toPandas())
        except Exception as exc:  # noqa: BLE001
            results[name] = exc
        spark.catalog.clearCache()
    warm = tracer.end_pass()
    # warm-up 2, uncollected: the short queries keep speeding up over
    # their first few runs
    warm2 = one_pass(0)
    setup_end = time.perf_counter()
    roots = run.timed_passes(one_pass)

    oracle = checks.Oracle(REPO, sf, tables.TABLES)
    digests = {}
    for name in QUERIES:
        run.attempted += 1
        res = results[name]
        if isinstance(res, Exception):
            run.fail(f"warm-up {name}: {res!r}"[:300])
            continue
        issues, digests[name] = oracle.compare(oracle_sql[name], res)
        if issues:
            run.fail(f"oracle {name}: {issues}")
    oracle.close()
    run.record.update(
        queries=list(QUERIES), query_digests=digests, gen_s=gen_s,
        warmup_pass_s=[warm.seconds, warm2.seconds], pins_live=pins_live,
    )
    return {"roots": roots, "setup_end": setup_end, "items": {},
            "pins_live": max(pins_live)}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(run: Run, res: dict, setup_s: float) -> dict:
    roots = res["roots"]
    # each operation's median over the passes, then the median operation:
    # a pooled median would be one or two single samples at the gap between
    # the two middle operations
    by_op: dict[str, list[float]] = {}
    for r in roots:
        for s in run.tracer.children(r):
            by_op.setdefault(s.name, []).append(s.seconds)
    op_medians = [statistics.median(v) for v in by_op.values()]
    return {
        "pass_s": (statistics.median(r.seconds for r in roots), "s"),
        "pass_cpu_s": (statistics.median(r.cpu_s for r in roots), "s"),
        "query_p50_s": (statistics.median(op_medians), "s"),
        "setup_s": (setup_s, "s"),
        "heap_retained_mb": (run.heap_retained_mb, "MB"),
    }


def per_layer(run: Run, res: dict, session_s: float) -> dict:
    tracer, roots = run.tracer, res["roots"]
    by_name: dict[str, list] = {}
    for r in roots:
        for s in tracer.children(r):
            by_name.setdefault(s.name, []).append(s)
    out = {name: (0.0, unit) for name, unit in per_layer_names()}
    med = statistics.median
    for b in CUBE_BOUNDARIES:
        spans = by_name.get(b)
        if not spans:
            continue
        secs = med(s.seconds for s in spans)
        per_item = res["items"].get(b)
        out[f"{b}.s"] = (secs, "s")
        out[f"{b}.s_per_item"] = (secs / per_item if per_item else 0.0, "s")
        for q in BOUNDARY_QUANTITIES[2:]:
            out[f"{b}.{q}"] = (med(s.counts.get(q, 0) for s in spans), UNITS[q])
    if run.args.workload == "query_mix":
        for q in QUERIES:
            spans = by_name.get(q, [])
            out[f"q.{q}.s"] = (med(s.seconds for s in spans), "s")
            out[f"q.{q}.jobs"] = (med(s.counts.get("jobs", 0) for s in spans), "count")
        for m in MIX_TOTALS:
            per_pass = [sum(s.counts.get(m, 0) for s in tracer.children(r)) for r in roots]
            out[f"mix.{m}"] = (med(per_pass), UNITS[m])
        out["mix.pins_live"] = (res["pins_live"], "count")
    out["session.start_s"] = (session_s, "s")
    out["peak_rss_mb"] = (peak_rss_mb(run.jvm_pid()), "MB")
    out["storage_ratio"] = (res.get("storage_ratio", 0.0), "ratio")
    out["error_rate"] = (run.failed / max(run.attempted, 1), "ratio")
    out["trace.pass_s"] = (med(r.seconds for r in roots), "s")
    out["trace.root_self_share"] = (max(tracer.self_share(r) for r in roots), "ratio")
    return out


def counts_repeat(run: Run, res: dict) -> dict:
    """Boundaries whose jobs/tasks differ between timed passes."""
    seen: dict[str, set] = {}
    for r in res["roots"]:
        for s in run.tracer.children(r):
            seen.setdefault(s.name, set()).add((s.counts.get("jobs"), s.counts.get("tasks")))
    return {k: sorted(v) for k, v in seen.items() if len(v) > 1}


# ---------------------------------------------------------------------------
# host, disk, pins
# ---------------------------------------------------------------------------


def steal_seconds() -> float:
    """CPU time stolen from this machine so far, over all CPUs (``/proc/stat``), or 0."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def host_facts(run: Run) -> dict:
    import duckdb
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        sha = None
    return {
        "nproc": os.cpu_count(), "master": f"local[{run.k}]",
        "shuffle_partitions": run.k, "driver_memory": DRIVER_MEMORY,
        "free_disk_gb": round(shutil.disk_usage(REPO).free / 2**30, 2),
        "git_sha": sha, "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__, "python": sys.version.split()[0],
    }


PINS = os.path.join(HERE, "pins.json")


def load_pins() -> dict:
    with open(PINS) as f:
        return json.load(f)


def save_pin(workload: str, seed: int, values: dict) -> None:
    pins = load_pins()
    pins.setdefault(workload, {})[str(seed)] = values
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


# ---------------------------------------------------------------------------


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-pins", action="store_true",
                   help="store this seed's cube digests in pins.json")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(REPO, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(REPO, "hiss_cube_spark"))):
        print(f"perfbench: no hiss_cube_spark checkout at {REPO}", file=sys.stderr)
        return 2
    free = shutil.disk_usage(REPO).free
    if free < FREE_FLOOR_BYTES:
        print(f"perfbench: {free / 2**30:.1f} GB free, need "
              f"{FREE_FLOOR_BYTES / 2**30:.0f} GB", file=sys.stderr)
        return 3

    run = Run(args)
    os.makedirs(os.path.join(run.root, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run.root, "tmp")
    sys.path.insert(0, REPO)
    # a SIGTERM unwinds through the finally below, like Ctrl-C
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_start = os.getloadavg()[0]
    try:
        from spans import StatusReader, Tracer

        t0 = time.perf_counter()
        session_s = run.start_session()
        run.tracer = Tracer(StatusReader(run.spark) if args.trace else None)
        res = (run_cube if args.workload == "cube_create" else run_mix)(run)
        setup_s = res["setup_end"] - t0
        if args.trace:
            metrics = per_layer(run, res, session_s)
            run.record["counts_not_repeating"] = counts_repeat(run, res)
        else:
            metrics = end_to_end(run, res, setup_s)
        run.record.update(
            host=host_facts(run), load_1m_start=load_start,
            load_1m_end=os.getloadavg()[0], session_start_s=session_s,
            setup_s=setup_s, heap_retained_mb=run.heap_retained_mb,
            pass_s=[r.seconds for r in res["roots"]],
            pass_cpu_s=[r.cpu_s for r in res["roots"]],
            failures=run.failures, spans=run.tracer.as_records(),
        )
    finally:
        run.stop_session()
        shutil.rmtree(run.root, ignore_errors=True)

    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    run.record["result"] = result
    out_dir = os.path.join(REPO, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(run.record, f, indent=1, default=str)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
