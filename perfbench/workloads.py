"""Workload definitions and input staging.

Every workload stages its corpus from ``nutch_spark.data.frontier.synth_web``
to parquet (the program then reads only the staged tables), injects, and
replays crawl cycle 1 from the injected snapshot: each sample starts with
``SnapshotCatalog.rollback``, so every sample of a run does identical work
and must commit an identical crawldb. Segments are written every cycle
(``write_segments=True``), as the crawl CLI's ``--write-segments`` does.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from checks import digest, hash_aggregates

START_MS = 1_704_000_000_000
CYCLE_MS = 3_600_000


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    n_hosts: int
    top_n: int


# why each workload exists: BENCHMARK.json and README.md
WORKLOADS = {
    w.name: w
    for w in (
        # topN ~3 % of the frontier: generate scans and quota-ranks it all,
        # updatedb's segment is ~8 % of the db (fingerprint-split bypass)
        Workload("frontier_sparse", n_docs=30_000, n_hosts=600, top_n=1_000),
        # topN >= frontier: fetch and parse see every doc, full-merge updatedb
        Workload("fetch_dense", n_docs=3_000, n_hosts=80, top_n=1_000_000),
    )
}

# tiny sizes for the self-tests: the same code paths on smaller inputs
TINY = {
    "frontier_sparse": dict(n_docs=4_000, n_hosts=80, top_n=50),
    "fetch_dense": dict(n_docs=1_500, n_hosts=40, top_n=1_000_000),
}

INPUT_TABLES = ("docs", "robots", "outcomes")


def stage_inputs(spark: SparkSession, w: Workload, seed: int,
                 root: str) -> tuple[dict[str, DataFrame], dict[str, str]]:
    """Write the synthetic web to parquet; return readers over it and the
    value hash of each staged table (observed on the write itself, no
    extra job). The seed list is every corpus URL: the frontier starts
    as the corpus."""
    from nutch_spark.data.frontier import synth_web

    web = synth_web(spark, n_docs=w.n_docs, n_hosts=w.n_hosts, seed=seed)
    out, hashes = {}, {}
    for name in INPUT_TABLES:
        path = os.path.join(root, name)
        obs = Observation(f"staged_{name}")
        web[name].observe(obs, *hash_aggregates(web[name])).write.mode("overwrite").parquet(path)
        hashes[name] = digest(obs.get)
        out[name] = spark.read.parquet(path)
    out["seeds"] = out["docs"].select(F.col("doc_id").alias("value"))
    return out, hashes
