"""Query plan build runs no Spark job once a session is warm: parquet
schemas are memoized per session (``catalog.read_parquet``), and the
decontamination Bloom filter is a stored artifact
(``pipeline_dedup.decontam_bloom_bits``)."""

from __future__ import annotations

import os
import types

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from starknet_indexer_spark import catalog, silver
from starknet_indexer_spark.queries import REGISTRY
from starknet_indexer_spark.queries import pipeline_dedup as dd

from .jobs import job_group

SF = "/root/testdata/sf0.01"

#: the registered queries the ``query_mix`` benchmark workload runs
QUERY_MIX = (
    "v01_pool_states",
    "pricing_summary",
    "sessionize_events",
    "bloom_decontamination",
)


def _build_jobs(spark, group: str, build) -> set[int]:
    with job_group(spark.sparkContext, group) as jobs:
        build()
    return jobs["grouped"]


def test_steady_plan_build_runs_no_spark_job(spark):
    """After one cold execution of each query, building its plan again
    starts no Spark job: no schema inference, no filter collect."""
    for q in QUERY_MIX:
        REGISTRY[q].fn(spark, SF).write.format("noop").mode("overwrite").save()
    started = {
        q: _build_jobs(spark, f"plan-build:{q}", lambda q=q: REGISTRY[q].fn(spark, SF))
        for q in QUERY_MIX
    }
    assert started == {q: set() for q in QUERY_MIX}


class TestSchemaMemo:
    def test_memo_hit_equals_inferring_read(self, spark):
        for name in catalog.TABLES:
            path = catalog.table_path(SF, name)
            inferred = spark.read.parquet(path)
            catalog.read_parquet(spark, path)
            hit = []
            assert _build_jobs(
                spark, f"memo:{name}", lambda p=path: hit.append(catalog.read_parquet(spark, p))
            ) == set(), name
            assert hit[0].schema == inferred.schema, name
            assert hit[0].exceptAll(inferred).count() == 0, name
            assert inferred.exceptAll(hit[0]).count() == 0, name

    def test_rewritten_file_is_inferred_again(self, spark, tmp_path):
        path = catalog.table_path(str(tmp_path), "region")
        pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
        assert catalog.load(spark, str(tmp_path), "region").columns == [
            "r_regionkey",
            "r_name",
        ]
        st = os.stat(path)
        pq.write_table(
            pa.table({"r_regionkey": [2], "r_name": ["C"], "r_comment": ["new"]}), path
        )
        # a rewrite within the file system's mtime granularity still
        # changes the key: pin the old mtime, the size differs anyway
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
        df = catalog.load(spark, str(tmp_path), "region")
        assert df.columns == ["r_regionkey", "r_name", "r_comment"]
        assert [tuple(r) for r in df.collect()] == [(2, "C", "new")]

    def test_another_application_infers_again(self, spark):
        """The memo is per Spark application: the same path read under
        another ``applicationId`` runs the inference job again."""
        path = catalog.table_path(SF, "nation")
        catalog.read_parquet(spark, path)
        other = types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(applicationId="another-app"),
            read=spark.read,
        )
        for key in [k for k in catalog._SCHEMA_MEMO if k[0] == "another-app"]:
            del catalog._SCHEMA_MEMO[key]
        assert _build_jobs(spark, "memo:other-app", lambda: catalog.read_parquet(other, path))
        assert _build_jobs(spark, "memo:same-app", lambda: catalog.read_parquet(spark, path)) == set()

    def test_memo_is_bounded(self, spark, monkeypatch, tmp_path):
        monkeypatch.setattr(catalog, "SCHEMA_MEMO_MAX", 2)
        monkeypatch.setattr(catalog, "_SCHEMA_MEMO", {})
        for i in range(3):
            p = str(tmp_path / f"t{i}.parquet")
            pq.write_table(pa.table({"x": [i]}), p)
            catalog.read_parquet(spark, p)
        assert [k[1] for k in catalog._SCHEMA_MEMO] == [
            str(tmp_path / "t1.parquet"),
            str(tmp_path / "t2.parquet"),
        ]


class TestDecontamBloomArtifact:
    def test_artifact_bits_equal_the_filter_built_from_silver(self, spark):
        from starknet_indexer_spark.operators.sketches import bloom_bitset, bloom_build

        stored = dd.decontam_bloom_bits(spark, SF, dd.BLOOM_K, dd.BLOOM_M_BITS)
        grams = spark.read.parquet(
            os.path.join(silver.ensure_silver(spark, SF), "decontam_grams")
        )
        train = grams.filter(F.col("source") != dd.EVAL_SOURCE).select("gh")
        built = bloom_bitset(
            bloom_build(train, F.col("gh").cast("string"), dd.BLOOM_K, dd.BLOOM_M_BITS),
            dd.BLOOM_M_BITS,
        )
        assert stored.dtype == np.uint8 and stored.shape == (dd.BLOOM_M_BITS // 8,)
        assert np.array_equal(stored, built)
        assert stored.any()

    def test_key_covers_k_m_bits_and_silver_version(self, monkeypatch):
        docs = os.path.join(SF, "documents.parquet")

        def key(k, m_bits):
            return silver.artifact_dir(docs, dd.BLOOM_ARTIFACT, dd.bloom_params(k, m_bits))

        base = key(dd.BLOOM_K, dd.BLOOM_M_BITS)
        assert key(dd.BLOOM_K, dd.BLOOM_M_BITS) == base
        assert key(dd.BLOOM_K + 1, dd.BLOOM_M_BITS) != base
        assert key(dd.BLOOM_K, dd.BLOOM_M_BITS * 2) != base
        monkeypatch.setattr(silver, "SILVER_VERSION", silver.SILVER_VERSION + "-next")
        assert key(dd.BLOOM_K, dd.BLOOM_M_BITS) != base

    def test_dir_without_ready_is_rebuilt(self, spark):
        k, m_bits = 2, 1 << 10
        want = dd.decontam_bloom_bits(spark, SF, k, m_bits)
        d = silver.artifact_dir(
            os.path.join(SF, "documents.parquet"), dd.BLOOM_ARTIFACT, dd.bloom_params(k, m_bits)
        )
        os.remove(os.path.join(d, "_READY"))
        np.save(os.path.join(d, "bits.npy"), np.zeros_like(want))
        assert np.array_equal(dd.decontam_bloom_bits(spark, SF, k, m_bits), want)
        assert os.path.exists(os.path.join(d, "_READY"))
