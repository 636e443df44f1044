"""Generic file-format sources with scan-level sampling.

The reference plugs its sampling reader under text and XML inputs only;
on Spark, ``sample()`` composes with ANY DataFrame source, so every
format a training pipeline ingests gets the same observe -> sample ->
transform contract for free. DROPMALFORMED mode mirrors the
reference's silent malformed-row drop (P7) at the parser, before the
sample — so observed totals count parseable rows only.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..sampling.config import SamplingConfig
from ..sampling.sampled_frame import SampledFrame


def read_csv_sampled(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    config: SamplingConfig | None = None,
    header: bool = True,
    drop_malformed: bool = True,
    **options,
) -> SampledFrame:
    """CSV scan -> SampledFrame. With a ``schema`` string, DROPMALFORMED
    discards unparseable lines (P7) before sampling, so totals count
    parseable rows."""
    mode = "DROPMALFORMED" if (schema is not None and drop_malformed) else "PERMISSIVE"
    reader = spark.read.option("header", str(header).lower()).option("mode", mode)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return SampledFrame.from_dataframe(reader.csv(path), config)


def read_json_sampled(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    config: SamplingConfig | None = None,
    drop_malformed: bool = True,
    **options,
) -> SampledFrame:
    """JSON-lines scan -> SampledFrame; same DROPMALFORMED contract."""
    mode = "DROPMALFORMED" if (schema is not None and drop_malformed) else "PERMISSIVE"
    reader = spark.read.option("mode", mode)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return SampledFrame.from_dataframe(reader.json(path), config)


def pick_files(spark: SparkSession, path: str, file_ratio: float, seed: int = 42) -> tuple[list[str], float]:
    """Deterministic hash-pick of ``file_ratio`` of the data files under
    ``path`` (driver-side listing via the JVM Hadoop FS, so any scheme the
    cluster reads works). Returns (picked paths, achieved file ratio).

    The stage-one primitive of two-stage cluster sampling (see
    ``sources/text.read_text_file_sampled`` for the estimator contract and
    the variance honesty note). Never returns an empty list."""
    import hashlib

    if not 0.0 < file_ratio <= 1.0:
        raise ValueError(f"file_ratio must be in (0, 1], got {file_ratio}")
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    files = sorted(
        str(st.getPath())
        for st in fs.listStatus(jpath)
        if st.isFile() and not st.getPath().getName().startswith("_")
    )
    if not files:
        raise ValueError(f"no data files under {path}")
    from ..sampling.deterministic import md5_accept

    picked = [f for f in files if md5_accept(f"{seed}:{f}", file_ratio)] or [files[0]]
    return picked, len(picked) / len(files)


def read_parquet_file_sampled(
    spark: SparkSession,
    path: str,
    file_ratio: float,
    row_config: SamplingConfig | None = None,
    seed: int = 42,
) -> SampledFrame:
    """Two-stage cluster sampling for parquet directories: skip whole
    part-files (their footers are never even opened), Bernoulli rows
    within survivors — same estimator contract as
    ``text.read_text_file_sampled``."""
    picked, achieved = pick_files(spark, path, file_ratio, seed)
    row_cfg = row_config or SamplingConfig(ratio=1.0)
    sf = SampledFrame.from_dataframe(spark.read.parquet(*picked), row_cfg)
    combined = SamplingConfig(ratio=achieved * row_cfg.resolve(), seed=seed if row_cfg.seed is None else row_cfg.seed)
    return SampledFrame(
        df=sf.df,
        ratio=achieved * sf.ratio,
        config=combined,
        observation=sf.observation,
        sample_observation=sf.sample_observation,
        job_id=sf.job_id,
        _start_time=sf._start_time,
    )
