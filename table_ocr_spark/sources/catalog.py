"""Thin catalog abstraction — Iceberg-shaped surface over plain parquet.

The production design reads/writes Iceberg tables
(``spark.read.table("cat.db.transcripts")`` with a ``bucket(N, conv_id)``
partition spec, SURVEY.md §2.1/§4.1); this sandbox has no Iceberg runtime
jar, so the same API is implemented over a parquet layout with an identical
partition spec plus a lineage/manifest sidecar (SURVEY.md §7 hard-point 3:
keep the catalog thin so both backends pass the same resume test).

Layout of an extraction table at ``root``:

    root/data/config=<hash>/bucket=<k>/part-*.parquet
    root/_lineage/*.parquet                 -- commit manifest (FIXTURES.md §4)

The physical layout is partitioned by config FIRST: lineage rows are keyed
by config_hash, so two configs sharing one directory would let a resume
under config A skip buckets whose bytes were overwritten by config B —
silently wrong output.  Separate config partitions make every
(config_hash, bucket) lineage row point at bytes that config actually
wrote (the Iceberg analog: one table per config spec, or a config column
in the partition spec).

The reference analog of the config/lineage sidecar is the SQLite config
store (ttocr/api/database.py:26-65) + per-run mlflow artifact trail
(main.py:200-256).
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("config_hash", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("turns", T.LongType()),
        T.StructField("boilerplate_ratio_avg", T.DoubleType()),
        T.StructField("cell_count", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
    ]
)


def _lineage_arrow_schema(nullable: bool = False):
    """``LINEAGE_SCHEMA`` as an Arrow schema — the driver-side lineage
    writer's file schema (``nullable=True``: every column nullable, the
    form Spark's parquet writer stores)."""
    import pyarrow as pa

    types = {
        T.StringType(): pa.string(),
        T.IntegerType(): pa.int32(),
        T.LongType(): pa.int64(),
        T.DoubleType(): pa.float64(),
    }
    return pa.schema(
        [pa.field(f.name, types[f.dataType], nullable or f.nullable) for f in LINEAGE_SCHEMA.fields]
    )


def write_transcripts_parquet(pdf, path: str, n_files: int = 8) -> None:
    """Persist a synthesized pandas transcript frame as a parquet table.

    Rows are written in shuffled order on purpose — correctness must never
    depend on physical order (FIXTURES.md §1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shuffled = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
    if "ts" in shuffled.columns:
        # Spark rejects TIMESTAMP(NANOS) parquet — write microseconds
        shuffled["ts"] = shuffled["ts"].astype("datetime64[us, UTC]")
    table = pa.Table.from_pandas(shuffled, preserve_index=False)
    os.makedirs(path, exist_ok=True)
    n = max(1, len(shuffled) // n_files + 1)
    for i in range(0, len(shuffled), n):
        pq.write_table(table.slice(i, n), f"{path}/part-{i//n:05d}.parquet")


def load_transcripts(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Transcript scan with an explicit (never inferred) schema.

    ``parquet`` is the table format; ``jsonl`` reads one JSON object per
    line — the interchange format conversation dumps actually arrive in —
    with ``ts`` parsed from ISO-8601 strings.  Explicit schema matters
    doubly for JSON: schema inference would cost a full extra pass over
    100 TB and can silently widen types between drops."""
    if fmt == "parquet":
        return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)
    if fmt in ("jsonl", "json"):
        # FAILFAST: default PERMISSIVE silently turns malformed lines into
        # all-NULL rows (read-path nullability is not enforced), which
        # would feed NULL conv_id rows downstream with no signal — the
        # same silent-corruption class the explicit schema guards against
        return (
            spark.read.schema(TRANSCRIPT_SCHEMA)
            .option("mode", "FAILFAST")
            .json(path)
        )
    raise ValueError(f"unsupported transcript format {fmt!r} (parquet|jsonl)")


def write_transcripts_jsonl(pdf, path: str, n_files: int = 4) -> None:
    """Test/fixture writer for the JSONL interchange shape (one object per
    line, ISO-8601 ts) — shuffled like the parquet writer."""
    import os as _os

    shuffled = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
    _os.makedirs(path, exist_ok=True)
    n = max(1, len(shuffled) // n_files + 1)
    for i in range(0, len(shuffled), n):
        chunk = shuffled.iloc[i : i + n].copy()
        if "ts" in chunk.columns:
            chunk["ts"] = chunk["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f%z")
        chunk.to_json(
            f"{path}/part-{i//n:05d}.jsonl", orient="records", lines=True, force_ascii=False
        )


class ExtractionTable:
    """Output table handle: data + lineage manifest + run-config sidecar."""

    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.lineage_dir = os.path.join(root, "_lineage")
        self.config_dir = os.path.join(root, "_config")

    def config_data_dir(self, config_hash: str) -> str:
        return os.path.join(self.data_dir, f"config={config_hash}")

    def read(self, spark: SparkSession, config_hash: Optional[str] = None) -> DataFrame:
        """Read extraction output.  With ``config_hash``, prunes to that
        config's partition directory (partition-pruned scan, not a filter
        over foreign configs' bytes); without, returns all configs with the
        ``config`` partition column attached."""
        df = spark.read.option("basePath", self.data_dir).parquet(self.data_dir)
        if config_hash is not None:
            df = df.filter(F.col("config") == config_hash)
        return df

    def _lineage_files(self) -> list:
        """Committed lineage files.  In-flight commits are hidden temp
        files (leading ``.``, no ``.parquet`` suffix) that no reader lists."""
        try:
            names = os.listdir(self.lineage_dir)
        except FileNotFoundError:
            return []
        return sorted(
            os.path.join(self.lineage_dir, f)
            for f in names
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )

    def read_lineage(self, spark: SparkSession) -> Optional[DataFrame]:
        if not self._lineage_files():
            return None
        return spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_dir)

    def _read_lineage_arrow(self, files: list, columns: Optional[list] = None):
        import pyarrow.dataset as ds

        # files written by Spark store every column as nullable; the
        # driver-written ones keep LINEAGE_SCHEMA's nullability — read both
        # under the nullable form
        schema = _lineage_arrow_schema(nullable=True)
        return ds.dataset(files, schema=schema, format="parquet").to_table(columns=columns)

    def committed_buckets(self, spark: SparkSession, config_hash: str) -> set:
        """Buckets committed under ``config_hash``.  Read on the driver with
        pyarrow: the sidecar is a handful of tiny files, so a resume starts
        without a Spark job.  (``spark`` is unused, kept for the API.)"""
        files = self._lineage_files()
        if not files:
            return set()
        t = self._read_lineage_arrow(files, ["config_hash", "status", "bucket"])
        return {
            b
            for c, s, b in zip(*(t.column(n).to_pylist() for n in t.column_names))
            if c == config_hash and s == "committed"
        }

    # one small parquet file lands per commit; past this many the dir is
    # folded into one file so lineage never becomes an unbounded
    # small-file crawl (the snapshot log has compaction; this is the
    # bucket-lineage analog)
    LINEAGE_COMPACT_THRESHOLD = 64

    def _commit_lineage_file(self, table, name: str) -> None:
        """Write ``table`` to ``_lineage/<name>`` atomically: a hidden temp
        file first, then ``os.replace`` — readers see the whole file or
        nothing (the table's single-writer, local-FS contract)."""
        import pyarrow.parquet as pq

        os.makedirs(self.lineage_dir, exist_ok=True)
        tmp = os.path.join(self.lineage_dir, f".{uuid.uuid4().hex}.tmp")
        try:
            pq.write_table(table, tmp)
            os.replace(tmp, os.path.join(self.lineage_dir, name))
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise

    def append_lineage(self, spark: SparkSession, rows: list) -> None:
        """Commit lineage ``rows`` (tuples in ``LINEAGE_SCHEMA`` order, or
        dicts keyed by its field names) as one parquet file written from the
        driver — no Spark job, so no Python worker boots for a few rows.
        (``spark`` is unused, kept for the API.)"""
        import pyarrow as pa

        names = LINEAGE_SCHEMA.fieldNames()
        cols = {n: [] for n in names}
        for r in rows:
            if isinstance(r, dict):
                unknown = set(r) - set(names)
                if unknown:
                    raise ValueError(f"unknown lineage fields {sorted(unknown)}")
                values = [r.get(n) for n in names]
            else:
                values = list(r)
                if len(values) != len(names):
                    raise ValueError(
                        f"lineage row has {len(values)} values, expected {len(names)}"
                    )
            for n, v in zip(names, values):
                cols[n].append(v)
        for f in LINEAGE_SCHEMA.fields:
            if not f.nullable and any(v is None for v in cols[f.name]):
                raise ValueError(f"lineage field {f.name!r} is not nullable")
        table = pa.Table.from_pydict(cols, schema=_lineage_arrow_schema())
        self._commit_lineage_file(table, f"part-{uuid.uuid4().hex}.parquet")
        self._maybe_compact_lineage(spark)

    def _maybe_compact_lineage(self, spark: SparkSession, max_files: int | None = None) -> None:
        """Fold the lineage dir into one parquet file once it exceeds
        ``max_files`` small files, on the driver with pyarrow.  Crash-safe
        under the table's single-writer contract: the compacted file is
        MOVED in before the old files are removed, so a crash in between
        leaves exact duplicate rows — removed by the distinct here on the
        next compaction, and harmless to ``committed_buckets`` (a distinct
        set) in the meantime.  (``spark`` is unused, kept for the API.)"""
        limit = max_files or self.LINEAGE_COMPACT_THRESHOLD
        old_paths = self._lineage_files()
        if len(old_paths) <= limit:
            return
        names = LINEAGE_SCHEMA.fieldNames()
        rows = self._read_lineage_arrow(old_paths)
        distinct = rows.group_by(names).aggregate([]).select(names)
        self._commit_lineage_file(
            distinct.cast(_lineage_arrow_schema()),
            f"compacted-{uuid.uuid4().hex}.parquet",
        )
        for p in old_paths:
            os.remove(p)

    def write_config(self, cfg_json: str, config_hash: str) -> None:
        os.makedirs(self.config_dir, exist_ok=True)
        with open(os.path.join(self.config_dir, f"{config_hash}.json"), "w") as f:
            f.write(cfg_json)

    def read_config(self, config_hash: str) -> Optional[dict]:
        p = os.path.join(self.config_dir, f"{config_hash}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)
