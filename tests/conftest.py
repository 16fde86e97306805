from __future__ import annotations

import os

import pytest

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_T2 = os.environ.get("SPARK_GRAFT_T2_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from next_plaid_spark.session import get_spark

    s = get_spark("next-plaid-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture
def bucket_cap_binds(monkeypatch):
    """A build sizes its token table at one bucket per token, so a test
    corpus of at least ``bucket_tokens`` tokens gets exactly that many
    buckets (the layout a corpus of 32·65,536 tokens or more gets)."""
    from next_plaid_spark.sources import tiered

    monkeypatch.setattr(tiered, "TOKENS_PER_BUCKET", 1)
