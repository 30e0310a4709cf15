"""Repository benchmark: the committed jobs, driven through their public
functions, on seeded inputs.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 1 --trace 0

Run it from the repository root.  Workloads (see perfbench/README.md):

* ``extract``   — ``plans.pipeline.run_extract`` (what ``jobs/extract.py``
  runs) writes a fresh output root over a heavy-tailed 14k-turn corpus,
  16 buckets in 4 commit groups.
* ``increment`` — restore a fixed curated history, append a seeded
  500-turn increment to its input snapshot log, run
  ``jobs/curate --input-snapshot --incremental --snapshot --near-dedup``,
  then ``jobs/forget`` for three conversations.

Each run is one closed-loop iteration in one driver process at
``local[nproc]``: every job builds its own session and stops it, as the
CLI does, and the next job starts when the previous one has finished.
Iterations repeat until ``--seconds`` have passed; the first one always
runs, and each is timed.  The timed iteration is the first Spark work in
the process, like a CLI invocation, so the JVM's warm-up is part of it;
``setup_s`` is the program import, JVM launch and first session build.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
iteration with spans and Spark's event log on, materializes the lazy
layers on their own, and prints the per-layer metrics.  Every run checks
the program's output; the last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
BASE_VERSION = "1"  # bump with any change to how the increment base is built

WORKLOADS = ("extract", "increment")
N_BUCKETS, COMMIT_GROUPS = 16, 4
ORACLE_SAMPLE_CONVS = 12
DRIVER_MEM = "1g"


def _program_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("table_ocr_spark/session.py", "table_ocr_spark/plans/pipeline.py",
                  "jobs/curate.py", "jobs/forget.py")
    )


def _configure_env() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK; must run
    before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CKPT_DIR"] = os.path.join(WORK, "checkpoints")
    # the program's driver-heap knob (default 8g): the inputs are small and
    # the host is shared, so cap the heap instead of letting it grow
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # every JVM, spark-submit's launcher included: temp files in WORK, no
    # perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path.insert(0, ROOT)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class NullTracer:
    """Stands in for spans.Tracer on untraced runs."""

    @contextlib.contextmanager
    def span(self, name, layer):
        yield None


def _job(main, argv: list[str]) -> dict:
    """Run a jobs/*.py main() in-process; returns its JSON summary line."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc != 0:
        raise RuntimeError(f"job exited {rc}: {argv}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


# --------------------------------------------------------------------- extract


def extract_iteration(ctx, meta: dict) -> dict:
    from table_ocr_spark import session as session_mod
    from table_ocr_spark.plans import pipeline

    out = os.path.join(ctx.run_dir, "extracted")
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    spark = session_mod.build_session(app_name="extract", cores=ctx.cores)
    t1 = time.perf_counter()
    pipeline.run_extract(
        spark, os.path.join(meta["dir"], "transcripts"), out,
        n_buckets=N_BUCKETS, commit_groups=COMMIT_GROUPS,
    )
    t2 = time.perf_counter()
    spark.stop()
    t3 = time.perf_counter()
    return {
        "out": out,
        "job_s": t2 - t1,
        "iteration_s": t3 - t0,
    }


def check_extract(ctx, meta: dict, it: dict) -> list[str]:
    """Output rows = distinct keys = input turns; one committed lineage row
    per bucket; a seeded sample of conversations byte-equal to the oracle."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from table_ocr_spark.oracle import extract_frame

    errs = []
    data = ds.dataset(os.path.join(it["out"], "data"), format="parquet", partitioning="hive")
    keys = data.to_table(columns=["conv_id", "turn_idx"]).to_pandas()
    n_rows, n_keys = len(keys), len(keys.drop_duplicates())
    if not n_rows == n_keys == meta["turns"]:
        errs.append(f"rows {n_rows}, distinct keys {n_keys}, input turns {meta['turns']}")
    lineage = pq.read_table(os.path.join(it["out"], "_lineage")).to_pandas()
    committed = lineage[lineage.status == "committed"]
    if sorted(committed.bucket) != list(range(N_BUCKETS)):
        errs.append(f"committed lineage buckets {sorted(committed.bucket)}")
    it["committed_turns"] = int(committed.turns.sum())
    if it["committed_turns"] != meta["turns"]:
        errs.append(f"lineage turns {it['committed_turns']} != {meta['turns']}")

    src = pq.read_table(os.path.join(meta["dir"], "kinds.parquet")).to_pandas()
    convs = sorted(src.conv_id.unique())
    rng = random.Random(ctx.seed)
    sample = sorted({convs[0], *rng.sample(convs, ORACLE_SAMPLE_CONVS - 1)})
    want = extract_frame(src[src.conv_id.isin(sample)])
    got = data.to_table(
        columns=["conv_id", "turn_idx", "clean_text", "cells", "spans", "mode"],
        filter=ds.field("conv_id").isin(sample),
    ).to_pandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    if len(got) != len(want):
        errs.append(f"oracle sample: {len(got)} output rows vs {len(want)} expected")
    else:
        for col in ("conv_id", "turn_idx", "clean_text", "mode"):
            bad = (got[col].to_numpy() != want[col].to_numpy()).sum()
            if bad:
                errs.append(f"oracle sample: {bad} rows differ on {col}")
        norm = lambda v: [] if v is None else [list(x) if not isinstance(x, dict) else x for x in v]
        for col in ("cells", "spans"):
            bad = sum(norm(a) != norm(b) for a, b in zip(got[col], want[col]))
            if bad:
                errs.append(f"oracle sample: {bad} rows differ on {col}")
    it["oracle_rows"] = len(want)
    return errs


# ------------------------------------------------------------------- increment


def _curate_args(in_root: str, out_root: str, cores: int) -> list[str]:
    return ["--input", in_root, "--output", out_root, "--input-snapshot", "--incremental",
            "--snapshot", "--near-dedup", "0.5", "--cores", str(cores)]


def _base_dir() -> str:
    import gen

    return os.path.join(WORK, "base", f"v{gen.GEN_VERSION}.{BASE_VERSION}")


def build_base() -> None:
    """The increment workload's restored base: the fixed history appended to
    an input snapshot log and curated once (curated table + LSH index).
    Built once per checkout, in its own process, so timed runs stay cold."""
    import gen

    final = _base_dir()
    hist = gen.prepare_inputs(WORK, "history", gen.BASE_SEED)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    cores = _cores()
    from table_ocr_spark import session as session_mod
    from table_ocr_spark.sources.catalog import load_transcripts
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C

    spark = session_mod.build_session(app_name="base", cores=cores)
    SnapshotTable(os.path.join(tmp, "in")).append(
        load_transcripts(spark, os.path.join(hist["dir"], "transcripts"))
    )
    spark.stop()
    summary = _job(C.main, _curate_args(os.path.join(tmp, "in"), os.path.join(tmp, "out"), cores))
    with open(os.path.join(tmp, "base.json"), "w") as f:
        json.dump({"history": hist, "curate": summary}, f, indent=1, default=str)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


def _ensure_base() -> str:
    final = _base_dir()
    if not os.path.isfile(os.path.join(final, "base.json")):
        print("building the increment base (once per checkout)", flush=True)
        subprocess.run([sys.executable, os.path.abspath(__file__), "--build-base"],
                       check=True, stdout=subprocess.DEVNULL, timeout=600)
    return final


def _live_files(root: str) -> dict:
    """path -> bytes of every live data file of a snapshot table."""
    from table_ocr_spark.sources.snapshots import SnapshotTable

    return {os.path.join(root, d["path"]): d["bytes"]
            for d in SnapshotTable(root).manifest()["files"]}


def increment_iteration(ctx, meta: dict) -> dict:
    import jobs.curate as C
    import jobs.forget as FG
    from table_ocr_spark import session as session_mod
    from table_ocr_spark.sources import catalog
    from table_ocr_spark.sources.snapshots import SnapshotTable

    base = ctx.base_dir
    d = os.path.join(ctx.run_dir, "inc")
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(base, d)
    in_root, out_root = os.path.join(d, "in"), os.path.join(d, "out")
    before = {t: _live_files(os.path.join(out_root, t)) for t in ("table", "lsh_index")}
    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("job.append", "jobs"):
        spark = session_mod.build_session(app_name="append", cores=ctx.cores)
        SnapshotTable(in_root).append(
            catalog.load_transcripts(spark, os.path.join(meta["dir"], "transcripts"))
        )
        spark.stop()
    t1 = time.perf_counter()
    with tr.span("job.curate", "jobs"):
        curate = _job(C.main, _curate_args(in_root, out_root, ctx.cores))
    t2 = time.perf_counter()
    with tr.span("job.forget", "jobs"):
        forget = _job(FG.main, ["--table", out_root, "--conv-ids", ",".join(meta["forget"]),
                                "--cores", str(ctx.cores)])
    t3 = time.perf_counter()
    after = {t: _live_files(os.path.join(out_root, t)) for t in ("table", "lsh_index")}
    return {
        "out": out_root,
        "curate": curate,
        "forget": forget,
        "job_s": t2 - t1,
        "commit_s": t2 - t0,
        "forget_s": t3 - t2,
        "iteration_s": t3 - t0,
        "bytes_written": sum(
            b for t in after for p, b in after[t].items() if p not in before[t]
        ),
        "files_live": len(after["table"]),
    }


def check_increment(ctx, meta: dict, it: dict) -> list[str]:
    """rows_in = the increment's size; forgotten conversations absent from
    the table and its LSH index; no key duplicated."""
    import pyarrow.parquet as pq

    errs = []
    if it["curate"].get("rows_in") != meta["turns"]:
        errs.append(f"curate rows_in {it['curate'].get('rows_in')} != increment {meta['turns']}")
    table = pq.ParquetDataset(list(_live_files(os.path.join(it["out"], "table")))).read(
        columns=["conv_id", "turn_idx"]).to_pandas()
    gone = set(meta["forget"])
    if table.conv_id.isin(gone).any():
        errs.append("forgotten conversations still in the table")
    if table.duplicated().any():
        errs.append(f"{int(table.duplicated().sum())} duplicated keys in the table")
    index = pq.ParquetDataset(list(_live_files(os.path.join(it["out"], "lsh_index")))).read(
        columns=["_k"]).to_pandas()
    if index._k.str.split("#").str[0].isin(gone).any():
        errs.append("forgotten conversations still in the LSH index")
    return errs


# ----------------------------------------------------------------- end to end


def end_to_end(workload: str, meta: dict, its: list[dict]) -> dict:
    """Per-iteration values, reduced to medians over the run's iterations.
    Returns {name: (value, unit)}; names with a workload prefix are the
    workload-specific views of the generic metrics."""
    med = lambda k: statistics.median(it[k] for it in its)
    out = {
        "turns_per_s": (meta["turns"] / med("job_s"), "turns/s"),
        "iteration_s": (med("iteration_s"), "s"),
    }
    if workload == "extract":
        out["extract.turns_per_s"] = out["turns_per_s"]
    else:
        out["curate.turns_per_s"] = out["turns_per_s"]
        out["increment.commit_s"] = (med("commit_s"), "s")
        out["increment.forget_s"] = (med("forget_s"), "s")
    return out


# -------------------------------------------------------------------- main


class Ctx:
    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.cores = _cores()
        self.run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
        self.base_dir = None
        self.tracer = NullTracer()
        self.evlog_dir = os.path.join(self.run_dir, "eventlog")


def _print_metrics(title: str, metrics: dict) -> None:
    print(f"# {title}")
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:>16.6g} {unit}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-base", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"perfbench: the program (table_ocr_spark/, jobs/) is not under {ROOT}",
              file=sys.stderr)
        return 2
    _configure_env()
    if args.build_base:
        try:
            build_base()
        finally:
            _stop_jvm()
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    import gen

    ctx = Ctx(args.workload, args.seed, bool(args.trace))
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    os.makedirs(ctx.run_dir)
    # the increment base is built by the checkout's first run, whichever
    # workload it is: only the first run may take long
    ctx.base_dir = _ensure_base()
    meta = gen.prepare_inputs(WORK, args.workload, args.seed)
    iterate, check = {
        "extract": (extract_iteration, check_extract),
        "increment": (increment_iteration, check_increment),
    }[args.workload]

    from spans import PeakRss, Tracer

    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            from table_ocr_spark import session as session_mod

            if ctx.trace:
                ctx.tracer = Tracer()
                os.makedirs(ctx.evlog_dir)
                _enable_event_log(ctx)
                ctx.tracer.instrument()
            t_launch = time.perf_counter()
            session_mod.build_session(app_name="setup", cores=ctx.cores).stop()
            setup_s = time.perf_counter() - t0
            launch_s = time.perf_counter() - t_launch
            its, errors, attempted = [], [], 0
            t_measure = time.perf_counter()
            while attempted == 0 or time.perf_counter() - t_measure < args.seconds:
                attempted += 1
                try:
                    with ctx.tracer.span("iteration", "workload") as root:
                        it = iterate(ctx, meta)
                    it["root_span"] = root
                    errs = check(ctx, meta, it)
                except Exception as e:  # a failed job counts against the run
                    errs = [f"{type(e).__name__}: {e}"]
                if errs:
                    errors += errs
                    break
                its.append(it)
            if ctx.trace and not errors:
                import layers

                probes = layers.probes(ctx, meta)
    finally:
        if isinstance(ctx.tracer, Tracer):
            ctx.tracer.restore()
        _stop_jvm()

    if errors:
        for e in errors:
            print(f"# CHECK FAILED: {e}")
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": attempted - len(its), "metrics": {}}))
        return 1
    e2e = {"setup_s": (setup_s, "s"), **end_to_end(args.workload, meta, its),
           "peak_rss_mb": (rss.peak_mb, "MB")}
    print(f"# workload {args.workload} seed {args.seed}: {meta['turns']} turns, "
          f"{meta['text_bytes']} text bytes, {len(its)} timed iteration(s), "
          f"local[{ctx.cores}]")
    _print_metrics("end to end (untraced)" if not ctx.trace else "end to end (traced)", e2e)
    print("# peak RSS by process name (MB): " + ", ".join(
        f"{k} {v / 2**20:.0f}" for k, v in sorted(rss.peak_by_comm.items())))
    if ctx.trace:
        import layers

        per_layer, report = layers.per_layer(ctx, meta, its, probes, launch_s)
        _print_metrics("per layer", per_layer)
        layers.print_report(report)
        untraced = _load_result(args.workload, args.seed, 0)
        if untraced:
            over = e2e["iteration_s"][0] - untraced["iteration_s"]
            print(f"# tracing overhead: {over:+.3f} s on iteration_s "
                  f"({over / untraced['iteration_s']:+.1%} of the untraced run of this seed)")
        else:
            print("# tracing overhead: no untraced run of this seed recorded in this checkout")
        result_metrics = per_layer
    else:
        result_metrics = {k: e2e[k] for k in ("setup_s", "turns_per_s", "iteration_s",
                                             "peak_rss_mb")}
    _save_result(args.workload, args.seed, int(ctx.trace),
                 {k: v for k, (v, _u) in e2e.items()})
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": True,
        "attempted": attempted,
        "failed": 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result_metrics.items()},
    }))
    return 0


def _enable_event_log(ctx) -> None:
    """Every session built from here on writes Spark's event log: the
    program's build_session gets the event-log settings as extra_conf."""
    import functools

    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": ctx.evlog_dir,
        "spark.eventLog.compress": "false",
    }

    def make(orig):
        @functools.wraps(orig)
        def build_session(*a, extra_conf=None, **kw):
            return orig(*a, extra_conf={**conf, **(extra_conf or {})}, **kw)

        return build_session

    ctx.tracer._patch("table_ocr_spark.session", "build_session", make)


def _stop_jvm() -> None:
    """End the JVM this process launched (it exits when its stdin closes)
    and wait for it; its Python workers end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None


def _result_path(workload: str, seed: int, trace: int) -> str:
    import gen

    return os.path.join(WORK, "results", f"v{gen.GEN_VERSION}",
                        f"{workload}-{seed}-trace{trace}.json")


def _save_result(workload, seed, trace, values: dict) -> None:
    p = _result_path(workload, seed, trace)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as f:
        json.dump(values, f)


def _load_result(workload, seed, trace) -> dict | None:
    p = _result_path(workload, seed, trace)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
