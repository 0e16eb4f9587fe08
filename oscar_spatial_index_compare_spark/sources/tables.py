"""Table loading + the Common-Crawl-shape adapter (SURVEY S1/S2).

Reference analog: ``OsmCompleter::setAllFilesFromPrefix`` + ``energize()``
(``apps/main.cpp:111-121``) — open the store and expose typed views.  Here a
"store" is a directory of parquet (tests) or Iceberg tables (production); the
schema-on-read adapter below lifts the driver's ``documents`` table into the
exact input_hint shape ``(url, warc_ts, html, text, lang)`` with *pure,
deterministic, SQL-expressible* column derivations so the DuckDB oracle can
reproduce every byte.

Per-row invariant (north_rule): ``text`` is carried through untouched, so
sha256(text) per url is trivially byte-identical across runs and parallelism
levels; tests/test_infra.py::test_extraction_determinism_across_parallelism
asserts it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _size_bytes(conf_val: str, default: int) -> int:
    """Parse a Spark byte-size conf string — Spark accepts both one- and
    two-letter suffixes ('134217728b', '128m', '256mb', '1g', '1gb')."""
    s = str(conf_val).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("tb", 1 << 40), ("k", 1 << 10), ("m", 1 << 20),
                   ("g", 1 << 30), ("t", 1 << 40), ("b", 1)):
        if s.endswith(suf):
            s = s[: -len(suf)]
            mult = m
            break
    try:
        return int(float(s)) * mult
    except ValueError:
        return default


def estimated_scan_partitions(spark: SparkSession, sizes: list[int]) -> int:
    """Partitions Spark plans for a scan of files of ``sizes`` bytes, by its
    FilePartition rules: each file is charged ``openCostInBytes`` extra,
    files are cut into maxSplitBytes splits, and splits are packed largest
    first, next-fit (12 x 1 KB files at 8 cores plan 6 partitions)."""
    conf = spark.conf
    mpb = _size_bytes(conf.get("spark.sql.files.maxPartitionBytes",
                               "134217728b"), 128 << 20)
    open_cost = _size_bytes(conf.get("spark.sql.files.openCostInBytes",
                                     "4194304b"), 4 << 20)
    min_parts = (conf.get("spark.sql.files.minPartitionNum", None)
                 or conf.get("spark.sql.leafNodeDefaultParallelism", None)
                 or spark.sparkContext.defaultParallelism)
    total = sum(sz + open_cost for sz in sizes)
    split = min(mpb, max(open_cost, total // int(min_parts)))
    splits = sorted((min(split, sz - off) for sz in sizes
                     for off in range(0, sz, split)), reverse=True)
    n_parts, cur = 0, None
    for ln in splits:
        if cur is None or cur + ln > split:
            n_parts, cur = n_parts + 1, 0
        cur += ln + open_cost
    return n_parts


def ensure_scan_parallelism(df: DataFrame, spark: SparkSession,
                            key: str = "doc_id",
                            input_path: str | None = None) -> DataFrame:
    """Guard against unsplittable narrow inputs: if the scan plans FEWER
    partitions than the cluster has cores (e.g. one parquet file with one
    row group — every derived narrow stage would run single-task), insert a
    deterministic hash repartition on ``key`` so the whole downstream
    pipeline parallelizes.  No-op whenever the scan already has enough
    splits (any real at-scale input), so the extra exchange only ever buys
    parallelism that the input could not provide.  Hash-on-key is
    deterministic under task retry (never round-robin on rand —
    SPARK-38388).

    ``input_path``: when the caller knows the file(s) behind ``df``, the
    partition count is ESTIMATED from file sizes with Spark's own rules
    (``estimated_scan_partitions``) instead of planning the scan —
    ``df.rdd.getNumPartitions()`` forces a full physical plan + RDD
    conversion, measured ~0.5-1 s of serial driver time on a cold session
    (r06 third pass).  Without a path the exact planned count is used."""
    n = spark.sparkContext.defaultParallelism
    if input_path is not None:
        import os

        sizes = []
        if os.path.isdir(input_path):
            for dirpath, _d, files in os.walk(input_path):
                sizes += [os.path.getsize(os.path.join(dirpath, f))
                          for f in files if f.endswith(".parquet")]
        elif os.path.exists(input_path):
            sizes = [os.path.getsize(input_path)]
        if sizes:
            if estimated_scan_partitions(spark, sizes) >= n:
                return df
            return df.repartition(n, F.col(key))
        # path missing/empty (non-filesystem source): exact check below
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, F.col(key))


def documents_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's documents table lifted to the input_hint shape.

    Columns (input_hint): url:string, warc_ts:timestamp, html:binary,
    text:string, lang:string — plus doc_id kept as the join key.  All derived
    columns are deterministic functions of (doc_id, source, text) only.
    """
    d = load(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/page/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, doc_id * 17)"
        ).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")),
            "UTF-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


DOCUMENTS_CC_ORACLE = """
SELECT doc_id,
       'https://' || source || '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url,
       TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id * 17) AS warc_ts,
       encode('<html><body>' || text || '</body></html>') AS html,
       text,
       lang
FROM documents
"""
