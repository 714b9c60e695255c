"""The driver contract's index cache (`__spark_entry__._cached_index`)."""

import json

import __spark_entry__ as entry
from gopensearch_spark.index import read_corpus_stats


def test_cached_index_with_unreadable_manifest_is_rebuilt(
        spark, docs_small, tmp_path, monkeypatch):
    """A cached manifest without the corpus stats (an older format that
    nested them under `stats`) is rebuilt, not served; a good one is kept."""
    docs_small.orderBy("doc_id").limit(20).write.parquet(str(tmp_path / "sfx/documents.parquet"))
    stale = tmp_path / "cache" / "sfx_lang"
    stale.mkdir(parents=True)
    (stale / "_current").write_text(json.dumps({"generation": 0, "stats": {"n_docs": 1}}))
    monkeypatch.setattr(entry, "_INDEX_ROOT", str(tmp_path / "cache"))
    monkeypatch.setattr(entry, "_INDEX_CACHE", {})
    assert entry._lang_index_dir(spark, str(tmp_path / "sfx")) == str(stale)
    assert read_corpus_stats(str(stale))["n_docs"] == 20
    version = json.loads((stale / "_current").read_text())["version"]
    entry._INDEX_CACHE.clear()
    entry._lang_index_dir(spark, str(tmp_path / "sfx"))
    assert json.loads((stale / "_current").read_text())["version"] == version
