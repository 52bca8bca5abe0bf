"""The derived-result registry's policy: content-keyed memos, uncached
builds for tables absent on disk, and entries that live only as long as
their application."""

from __future__ import annotations

import os
import shutil
from types import SimpleNamespace

import pytest

from boletia_kubernetes_kafka_mongodb_spark import cache
from tests.conftest import SF_SMOKE


@pytest.fixture
def registry(monkeypatch):
    """An empty registry for the test, leaving the session's entries alone."""
    monkeypatch.setattr(cache, "_entries", {})
    monkeypatch.setattr(cache, "_app", None)
    return cache


def _stub_spark(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


def test_memo_drops_entries_of_an_older_application(registry, tmp_path):
    (tmp_path / "documents.parquet").write_bytes(b"corpus")
    sf_dir = str(tmp_path)
    spark = _stub_spark("app-1")
    builds = []

    def build():
        builds.append(spark.sparkContext.applicationId)
        return object()

    first = registry.memo(spark, "m", build, sf_dir, tables=("documents",))
    assert registry.memo(spark, "m", build, sf_dir, tables=("documents",)) is first
    registry.memo(spark, "other", build, sf_dir)
    assert builds == ["app-1", "app-1"] and len(registry._entries) == 2

    spark.sparkContext.applicationId = "app-2"
    second = registry.memo(spark, "m", build, sf_dir, tables=("documents",))
    assert second is not first
    assert builds == ["app-1", "app-1", "app-2"]
    assert list(registry._entries.values()) == [second]


def test_memo_builds_uncached_when_a_table_is_absent(registry, tmp_path):
    spark = _stub_spark("app-1")
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    for _ in range(2):
        registry.memo(spark, "m", build, str(tmp_path), tables=("documents",))
    assert builds == [1, 1] and registry._entries == {}
    with pytest.raises(FileNotFoundError):
        registry.dataset_cache_key(str(tmp_path), "documents")


def test_memo_rekeys_on_table_rewrite_and_forget_drops_a_directory(registry, tmp_path):
    docs = tmp_path / "documents.parquet"
    docs.write_bytes(b"v1")
    sf_dir = str(tmp_path)
    spark = _stub_spark("app-1")
    v1 = registry.memo(spark, "m", lambda: "v1", sf_dir, tables=("documents",))
    docs.write_bytes(b"v2-longer")
    v2 = registry.memo(spark, "m", lambda: "v2", sf_dir, tables=("documents",))
    assert (v1, v2) == ("v1", "v2")

    registry.memo(spark, "elsewhere", lambda: 0, "/some/other/dir")
    registry.forget(sf_dir)
    assert [k[1] for k in registry._entries] == ["/some/other/dir"]


def _jaccard_pairs(spark, sf_dir):
    from boletia_kubernetes_kafka_mongodb_spark.operators import dedup

    return {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ext_dedup_ngram_jaccard(spark, sf_dir).collect()
    }


def test_rewritten_corpus_is_not_served_stale(spark, tmp_path):
    """Overwrite ``documents.parquet`` in place between two runs in one
    session: the second run must answer for the new corpus."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = os.path.join(SF_SMOKE, "documents.parquet")
    sf_dir, fresh = tmp_path / "sf", tmp_path / "fresh"
    sf_dir.mkdir()
    fresh.mkdir()
    shutil.copyfile(src, sf_dir / "documents.parquet")
    before = _jaccard_pairs(spark, str(sf_dir))

    # the changed corpus: every 10th document gains an exact copy under a
    # new id, so new near-dup pairs must appear
    tbl = pq.read_table(src)
    copies = tbl.take(list(range(0, tbl.num_rows, 10)))
    shift = pc.max(tbl["doc_id"]).as_py() + 1
    copies = copies.set_column(
        copies.schema.get_field_index("doc_id"),
        "doc_id",
        pc.add(copies["doc_id"], shift).cast(tbl.schema.field("doc_id").type),
    )
    changed = pa.concat_tables([tbl, copies])
    pq.write_table(changed, fresh / "documents.parquet")
    pq.write_table(changed, sf_dir / "documents.parquet")

    after = _jaccard_pairs(spark, str(sf_dir))
    assert after == _jaccard_pairs(spark, str(fresh))
    assert after != before
