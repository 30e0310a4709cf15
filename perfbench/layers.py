"""The traced run's per-layer view: layer probes and metric reduction.

``probes`` materializes each layer on its own over this run's inputs: the
extraction kernel single-threaded with no Spark (``functions``), the
extraction UDF and the skew layer to a noop sink, and, for ``increment``,
the lazy curate and prepare layers (conv-scope strip, text scoring, MinHash
signatures and the LSH join against the base history, packing, mixture and
ordering), each inside its own ``probe.*`` span.

``per_layer`` joins the spans with the event log (a Spark job belongs to the
span that was its job group, else the innermost span open when it was
submitted) and returns the per-layer metrics named in BENCHMARK.json, plus a
report holding the layer metrics that exist on this workload only and the
per-layer and per-stage tables.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import evlog
import gen

PROBE_KIND_ROWS = 150  # per payload kind, for the per-kind kernel rates
PROBE_MIX_ROWS = 1500  # natural mix, for the overall kernel rate and mode shares


# ---------------------------------------------------------------------- probes


def _kernel_probe(ctx, meta: dict) -> dict:
    import pyarrow.parquet as pq

    from table_ocr_spark.config import DEFAULT_CONFIG
    from table_ocr_spark.functions.extract import extract_payload

    rows = pq.read_table(os.path.join(meta["dir"], "kinds.parquet"),
                         columns=["text", "kind"]).to_pandas()
    rows = rows[rows.kind != "outlier"]
    rng = random.Random(ctx.seed)

    def rate(texts):
        t0 = time.perf_counter()
        modes = [extract_payload(t, DEFAULT_CONFIG).mode for t in texts]
        return len(texts) / (time.perf_counter() - t0), modes

    mix = rows.text.tolist()
    mix = rng.sample(mix, min(PROBE_MIX_ROWS, len(mix)))
    out = {}
    with ctx.tracer.span("probe.functions", "functions"):
        rate(mix[:100])  # fill the kernel's per-cell memo the way a long-lived worker has it
        out["rows_per_s"], modes = rate(mix)
        for kind in ("plain", "html_page", "md_table", "pdf_layout", "noisy"):
            texts = rows.text[rows.kind == kind].tolist()
            texts = rng.sample(texts, min(PROBE_KIND_ROWS, len(texts)))
            out[f"rows_per_s.{kind}"] = rate(texts)[0] if texts else 0.0
    for mode in ("explicit_markup", "heuristic_layout", "passthrough"):
        out[f"mode_share.{mode}"] = modes.count(mode) / len(modes)
    return out


def probes(ctx, meta: dict) -> dict:
    """Run every layer probe; returns measured values keyed by layer."""
    from table_ocr_spark import session as session_mod
    from table_ocr_spark.config import DEFAULT_CONFIG
    from table_ocr_spark.operators import extract_job, skew
    from table_ocr_spark.sources.catalog import load_transcripts

    tr = ctx.tracer
    out = {"functions": _kernel_probe(ctx, meta)}
    spark = session_mod.build_session(app_name="probes", cores=ctx.cores)
    try:
        src = load_transcripts(spark, os.path.join(meta["dir"], "transcripts")).select(
            "conv_id", "turn_idx", "text")
        with tr.span("probe.extract_job", "extract_job") as s:
            ex = extract_job.with_extraction(src)
            _noop(ex)
        out["extract_job"] = {"span": s}
        with tr.span("probe.skew_sketch", "skew") as s:
            parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
            thr = skew.effective_skew_threshold(src, DEFAULT_CONFIG, parts)
            heavy = skew.heavy_conv_ids_materialized(src, thr, with_counts=True) or []
        with tr.span("probe.skew_salted", "skew") as s2:
            _noop(skew.salted_repartition(src, DEFAULT_CONFIG))
        out["skew"] = {
            "sketch": s, "salted": s2, "threshold": thr, "heavy_convs": len(heavy),
            "salted_rows_frac": sum(n for _c, n in heavy) / meta["turns"],
        }
        if ctx.workload == "increment":
            out.update(_increment_probes(ctx, spark, ex))
    finally:
        spark.stop()
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _increment_probes(ctx, spark, extracted) -> dict:
    """The lazy curate/prepare layers, each materialized on its own over the
    increment (and, for the LSH join, the base history's index)."""
    import json

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from table_ocr_spark.operators import conv_scope, dedup, mixture, ordering, textstats
    from table_ocr_spark.sources.snapshots import SnapshotTable

    tr = ctx.tracer
    out = {}
    strip_in = extracted.select("conv_id", "turn_idx", F.col("clean_text").alias("text")).persist(
        StorageLevel.MEMORY_AND_DISK)
    strip_in.count()
    with tr.span("probe.conv_scope_strip", "conv_scope") as s:
        stripped = conv_scope.strip_conv_boilerplate(strip_in).withColumnRenamed(
            "text_stripped", "text").persist(StorageLevel.MEMORY_AND_DISK)
        stripped.count()
    out["conv_scope"] = {"strip": s}
    with tr.span("probe.textstats_score", "textstats") as s:
        scored = stripped.select(
            "conv_id", "turn_idx", "text",
            textstats.token_count_col("text").alias("n_tokens"),
            textstats.lang_id_col("text").alias("lang"),
            F.round(textstats.quality_score_col("text"), 6).alias("quality"),
            textstats.fingerprint_col("text").alias("fingerprint"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        scored.count()
    with_k = scored.withColumn(
        "_k", F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")))
    with tr.span("probe.dedup_signature", "dedup") as s_sig:
        _noop(dedup.minhash_signatures(with_k, text="text", key="_k"))
    base_out = os.path.join(ctx.base_dir, "out")
    index = SnapshotTable(os.path.join(base_out, "lsh_index")).read(spark)
    with tr.span("probe.dedup_against", "dedup") as s_ag:
        cand = dedup.lsh_pairs_against(
            with_k, index, text="text", key="_k",
            max_bucket_size=1000, max_candidates_per_bucket=32,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_cand = cand.count()
    history = SnapshotTable(os.path.join(base_out, "table")).read(spark).select(
        F.concat(F.lit("o#"), F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))).alias("_k"),
        "text")
    texts = with_k.select(F.concat(F.lit("n#"), "_k").alias("_k"), "text").unionByName(history)
    with tr.span("probe.dedup_verify", "dedup") as s_ver:
        n_ver = dedup.verify_pairs_jaccard(
            cand.select(F.concat(F.lit("n#"), "key_new").alias("key_a"),
                        F.concat(F.lit("o#"), "key_old").alias("key_b")),
            texts, text="text", key="_k", threshold=0.5,
        ).count()
    out["dedup"] = {"signature": s_sig, "against": s_ag, "verify": s_ver,
                    "candidates": n_cand, "verified": n_ver}
    curated = scored.filter(F.col("quality") >= 0.3)
    with tr.span("probe.textstats_pack", "textstats") as s_pack:
        ordered = curated.withColumn("_order", ordering.shuffle_key_col(["conv_id", "turn_idx"]))
        _noop(textstats.pack_sequences(ordered, token_col="n_tokens", key="_order",
                                       budget=2048, n_buckets=64))
    out["textstats"] = {"score": s, "pack": s_pack}
    with tr.span("probe.mixture_rebalance", "mixture") as s_mix:
        _noop(mixture.rebalance_mixture(curated, json.loads(gen.MIXTURE), key="fingerprint"))
    with tr.span("probe.ordering_shuffle", "ordering") as s_ord:
        _noop(ordering.shuffled(curated, ["conv_id", "turn_idx"]))
    out["mixture"] = {"rebalance": s_mix}
    out["ordering"] = {"shuffle": s_ord}
    for df in (cand, scored, stripped, strip_in):
        df.unpersist()
    return out


# ------------------------------------------------------------------ reduction


def _dur(span) -> float:
    return span["end"] - span["start"]


class _Attribution:
    """Spark jobs and stages mapped onto the run's spans."""

    def __init__(self, tracer, app):
        self.tracer = tracer
        self.job_span = {}
        for j in app.jobs:
            owner = tracer.owner_of(j.submit_ms, j.group)
            self.job_span[id(j)] = owner["id"] if owner else None
        self.jobs = app.jobs
        self.stages = app.stages
        # a stage belongs to the span of the first job that lists it
        by_stage = {}
        for j in app.jobs:
            for sid in j.stage_ids:
                by_stage.setdefault((j.app, sid), self.job_span[id(j)])
        self.stage_span = {id(s): by_stage.get((s.app, s.stage_id)) for s in app.stages}

    def within(self, span) -> tuple[list, list]:
        """(jobs, stages) owned by ``span`` or any span below it."""
        ids = {s["id"] for s in self.tracer.subtree(span)}
        jobs = [j for j in self.jobs if self.job_span[id(j)] in ids]
        stages = [s for s in self.stages if self.stage_span[id(s)] in ids]
        return jobs, stages

    def owned(self, span_ids: set) -> list:
        return [s for s in self.stages if self.stage_span[id(s)] in span_ids]


def per_layer(ctx, meta: dict, its: list, probes: dict, launch_s: float):
    """(metrics named in BENCHMARK.json per_layer, report of the rest)."""
    tr = ctx.tracer
    app = evlog.parse_dir(ctx.evlog_dir)
    att = _Attribution(tr, app)
    it = its[0]
    root = it["root_span"]
    wall = _dur(root)
    jobs, stages = att.within(root)
    tot = evlog.totals(stages)
    busy = evlog.busy_intervals(jobs)
    lo, hi = root["start"] * 1000, root["end"] * 1000
    busy_ms = sum(max(0, min(b, hi) - max(a, lo)) for a, b in busy)

    m = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    builds = [_dur(s) for s in tr.spans if s["name"] == "session.build_session"
              and s["parent"] is not None]
    put("session.launch_s", launch_s, "s")
    put("session.build_s", statistics.median(builds) if builds else 0.0, "s")

    fn = probes["functions"]
    put("functions.rows_per_s", fn["rows_per_s"], "rows/s")
    for k in ("plain", "html_page", "md_table", "pdf_layout", "noisy"):
        put(f"functions.rows_per_s.{k}", fn[f"rows_per_s.{k}"], "rows/s")
    for k in ("explicit_markup", "heuristic_layout", "passthrough"):
        put(f"functions.mode_share.{k}", fn[f"mode_share.{k}"], "ratio")

    ej_span = probes["extract_job"]["span"]
    _j, ej_stages = att.within(ej_span)
    ej = evlog.totals(ej_stages)
    udf = max(ej_stages, key=lambda s: s.py_run_ms, default=None)
    put("extract_job.s", _dur(ej_span), "s")
    put("extract_job.arrow_bytes_in", ej["py_bytes_in"], "bytes")
    put("extract_job.arrow_bytes_out", ej["py_bytes_out"], "bytes")
    put("extract_job.python_s", ej["py_run_s"], "s")
    put("extract_job.python_boot_s", ej["py_boot_s"], "s")
    put("extract_job.task_skew", udf.task_skew if udf else 1.0, "ratio")
    udf_rate = meta["turns"] / udf.wall_s if udf and udf.wall_s > 0 else 0.0
    put("extract_job.parallel_eff", udf_rate / (ctx.cores * fn["rows_per_s"]), "ratio")

    sk = probes["skew"]
    _j, salted_stages = att.within(sk["salted"])
    put("skew.sketch_s", _dur(sk["sketch"]), "s")
    put("skew.heavy_convs", sk["heavy_convs"], "count")
    put("skew.salted_rows_frac", sk["salted_rows_frac"], "ratio")
    put("skew.shuffle_bytes", evlog.totals(salted_stages)["shuffle_write_bytes"], "bytes")

    put("spark.executor_run_s", tot["executor_run_s"], "s")
    put("spark.executor_cpu_s", tot["executor_cpu_s"], "s")
    put("spark.gc_s", tot["gc_s"], "s")
    put("spark.cpu_util", tot["executor_cpu_s"] / (wall * ctx.cores), "ratio")
    put("spark.shuffle_write_bytes", tot["shuffle_write_bytes"], "bytes")
    put("spark.spill_bytes", tot["spill_bytes"], "bytes")
    put("spark.jobs", len(jobs), "count")
    put("spark.tasks", tot["tasks"], "count")
    put("spark.driver_idle_s", wall - busy_ms / 1000, "s")
    put("trace.unexplained_frac", tr.self_time(root) / wall, "ratio")

    report = {
        "layers": _layer_table(tr, att, root),
        "stages": evlog.stage_rows(stages),
        "workload": (_extract_layers(ctx, meta, it, att, tr) if ctx.workload == "extract"
                     else _increment_layers(ctx, meta, it, att, tr, probes)),
    }
    return m, report


def _layer_table(tr, att, root) -> list[dict]:
    """Per layer inside the timed iteration: calls, self time, and the Spark
    jobs, executor time and shuffle bytes of the jobs its spans started."""
    spans = [s for s in tr.subtree(root) if s is not root]
    rows = {}
    for s in spans:
        r = rows.setdefault(s["layer"], {"layer": s["layer"], "calls": 0, "self_s": 0.0, "ids": set()})
        r["calls"] += 1
        r["self_s"] += tr.self_time(s)
        r["ids"].add(s["id"])
    out = []
    for r in sorted(rows.values(), key=lambda r: -r["self_s"]):
        st = evlog.totals(att.owned(r.pop("ids")))
        out.append({**r, "self_s": round(r["self_s"], 3), "stages": st["stages"],
                    "executor_run_s": round(st["executor_run_s"], 3),
                    "shuffle_write_bytes": st["shuffle_write_bytes"]})
    out.append({"layer": "(unexplained)", "calls": 1, "self_s": round(tr.self_time(root), 3)})
    return out


def _spans_named(tr, root, name):
    return [s for s in tr.subtree(root) if s["name"] == name]


def _extract_layers(ctx, meta, it, att, tr) -> dict:
    import pyarrow.parquet as pq

    root = it["root_span"]
    run = _spans_named(tr, root, "pipeline.run_extract")[0]
    jobs, stages = att.within(run)
    st = evlog.totals(stages)
    lineage = pq.read_table(os.path.join(it["out"], "_lineage")).to_pandas()
    groups = lineage.groupby("wall_ms").size()  # one wall per commit group
    return {
        "pipeline.group_s": (statistics.median(groups.index) / 1000, "s"),
        "pipeline.jobs": (len(jobs), "count"),
        # rows scanned per input row: Python-UDF stages scan in a feeder
        # thread whose bytes Spark does not count, so rows are the honest base
        "pipeline.scan_amplification": (st["input_records"] / meta["turns"], "ratio"),
        "pipeline.shuffle_bytes": (st["shuffle_write_bytes"], "bytes"),
        "pipeline.write_bytes": (st["output_bytes"], "bytes"),
        "catalog.committed_buckets_s": (
            sum(_dur(s) for s in _spans_named(tr, root, "catalog.committed_buckets")), "s"),
        "catalog.append_lineage_s": (
            sum(_dur(s) for s in _spans_named(tr, root, "catalog.append_lineage")), "s"),
    }


def _increment_layers(ctx, meta, it, att, tr, probes) -> dict:
    root = it["root_span"]
    sums = lambda name: sum(tr.self_time(s) for s in _spans_named(tr, root, name))
    append_job = _spans_named(tr, root, "job.append")[0]
    raw_append = [s for s in tr.subtree(append_job) if s["name"] == "snapshots.append"]
    d = probes["dedup"]
    verify_stages = att.within(d["verify"])[1]
    input_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _d, fs in os.walk(os.path.join(meta["dir"], "transcripts")) for f in fs)
    return {
        "conv_scope.strip_s": (_dur(probes["conv_scope"]["strip"]), "s"),
        "conv_scope.shuffle_bytes": (evlog.totals(
            att.within(probes["conv_scope"]["strip"])[1])["shuffle_write_bytes"], "bytes"),
        "textstats.score_s": (_dur(probes["textstats"]["score"]), "s"),
        "textstats.pack_s": (_dur(probes["textstats"]["pack"]), "s"),
        "dedup.signature_s": (_dur(d["signature"]), "s"),
        "dedup.against_s": (_dur(d["against"]), "s"),
        "dedup.candidates": (d["candidates"], "count"),
        "dedup.verified": (d["verified"], "count"),
        "dedup.verify_yield": (d["verified"] / d["candidates"] if d["candidates"] else 0.0, "ratio"),
        "dedup.pair_shuffle_bytes": (evlog.totals(verify_stages)["shuffle_write_bytes"], "bytes"),
        "dedup.index_sync_s": (
            sum(_dur(s) for s in _spans_named(tr, root, "dedup._sync_lsh_index")), "s"),
        "snapshots.append_s": (sum(tr.self_time(s) for s in raw_append), "s"),
        "snapshots.read_changes_s": (sums("snapshots.read_changes"), "s"),
        "snapshots.merge_s": (sums("snapshots.merge"), "s"),
        "snapshots.files_live": (it["files_live"], "count"),
        "snapshots.files_rewritten": (it["forget"].get("files_rewritten") or 0, "count"),
        "snapshots.write_amp": (it["bytes_written"] / input_bytes, "ratio"),
        "snapshots.manifests_read": (tr.counts.get("snapshots.manifests_read", 0), "count"),
        "mixture.rebalance_s": (_dur(probes["mixture"]["rebalance"]), "s"),
        "ordering.shuffle_s": (_dur(probes["ordering"]["shuffle"]), "s"),
    }


def print_report(report: dict) -> None:
    print("# per layer, this workload only")
    for name, (value, unit) in report["workload"].items():
        print(f"{name:40s} {float(value):>16.6g} {unit}")
    print("# layer self time inside the timed iteration")
    print(f"{'layer':14s} {'calls':>6s} {'self_s':>9s} {'stages':>7s} {'exec_run_s':>11s} {'shuffle_w':>12s}")
    for r in report["layers"]:
        print(f"{r['layer']:14s} {r['calls']:>6d} {r['self_s']:>9.3f} {r.get('stages', 0):>7d} "
              f"{r.get('executor_run_s', 0):>11.3f} {r.get('shuffle_write_bytes', 0):>12d}")
    slow = sorted(report["stages"], key=lambda r: -r["wall_s"])[:8]
    print("# slowest stages of the timed iteration")
    for r in slow:
        print(f"stage {r['stage']:>5d} wall {r['wall_s']:7.3f}s tasks {r['tasks']:>4d} "
              f"max/median task {r['task_max_s']:.3f}/{r['task_median_s']:.3f}s "
              f"rows_in {r['input_records']} shuffle_w {r['shuffle_write']} "
              f"py_in {r['py_bytes_in']} py_out {r['py_bytes_out']}")
