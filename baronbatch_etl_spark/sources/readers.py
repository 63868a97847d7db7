"""Format readers — always schema'd (schema inference is a full extra
pass over the data; at 100 TB it is never acceptable on the hot path;
bronze-zone JSON uses permissive mode to quarantine bad rows instead
of failing the job, mirroring the reference's defensive `.get()`
parsing, transformer_loader/main.py:43-57)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    **options: str,
) -> DataFrame:
    return spark.read.options(header=str(header).lower(), **options).schema(
        schema
    ).csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    permissive: bool = True,
    **options: str,
) -> DataFrame:
    """JSON lines with declared schema. Permissive mode keeps
    malformed rows (nulls + `_corrupt_record` if declared) — the
    bronze-zone stance; FAILFAST is for curated inputs."""
    mode = "PERMISSIVE" if permissive else "FAILFAST"
    return spark.read.options(mode=mode, **options).schema(schema).json(path)


def read_binary_assets(
    spark: SparkSession,
    path: str,
    glob: str = "*",
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-asset ingestion for the multimodal family: the
    ``binaryFile`` source reads whole files as (path, modificationTime,
    length, content) — the standard way image/audio/video blobs enter
    a Spark pipeline before any decode.

    Returns rows in the engine's media convention (see
    ``operators.multimodal.MEDIA_SCHEMA``): a stable ``media_id``
    (xxhash64 of the path — reproducible across runs and executors),
    the raw ``payload``, and a meta struct whose mime is inferred from
    the extension (decode-free; real width/height/duration come from
    the decode stage downstream).

    Scale notes: binaryFile is splittable per FILE (one row per file,
    never split mid-blob); ``max_bytes`` pushes a length predicate to
    the listing (`length < N` is one of the source's pushable
    filters), keeping oversized assets out of executor memory —
    at 100 TB of images you also set
    spark.sql.files.maxPartitionBytes so a task holds a bounded
    number of blobs."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    if max_bytes is not None:
        df = df.filter(F.col("length") < max_bytes)
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    mime = (
        F.when(ext.isin("jpg", "jpeg"), "image/jpeg")
        .when(ext == "png", "image/png")
        .when(ext == "gif", "image/gif")
        .when(ext == "mp3", "audio/mpeg")
        .when(ext == "wav", "audio/wav")
        .when(ext == "mp4", "video/mp4")
        .otherwise("application/octet-stream")
    )
    return df.select(
        F.xxhash64("path").alias("media_id"),
        F.col("content").alias("payload"),
        F.struct(
            mime.alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
        F.col("path").alias("src_path"),
        F.col("length").alias("byte_len"),
    )
