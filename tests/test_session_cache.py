"""The session cache (bigdatawork_spark/cache.py): every memo, staged
relation and broadcast the engine keeps lives on the session that made
it, and ``cache.drop(spark, sf_dir)`` releases a corpus's entries."""

from __future__ import annotations

import ast
import os
import shutil

from bigdatawork_spark import cache
from bigdatawork_spark.operators import curation, llm_ops
from bigdatawork_spark.registry import QUERIES
from bigdatawork_spark.streaming import stream_ops
from tests.conftest import SF_SMALL

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bigdatawork_spark")


def _cached_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _corpus(root, name) -> str:
    """A fresh corpus directory: links to the small fixture's tables."""
    d = root / name
    d.mkdir()
    for t in os.listdir(SF_SMALL):
        os.symlink(os.path.join(SF_SMALL, t), d / t)
    return str(d)


def test_caches_are_session_scoped(spark, sf_dir):
    """A second session gets its own split relations and restage slots;
    the first session's entries are neither returned nor released."""
    docs = [(1, "a b c d e"), (2, "a b c d f")]
    schema = "doc_id long, text string"
    llm_ops.minhash_pairs(spark.createDataFrame(docs, schema))
    mine = cache.entries(spark)[("minhash_pairs", None)]
    b = spark.newSession()
    batch, corpus = curation._split(b, sf_dir)
    assert batch.sparkSession is b and corpus.sparkSession is b
    llm_ops.minhash_pairs(b.createDataFrame(docs, schema))
    assert cache.entries(b)[("minhash_pairs", None)].sparkSession is b
    assert cache.entries(spark)[("minhash_pairs", None)] is mine
    assert mine.is_cached


def test_drop_releases_every_entry_for_a_corpus(spark, tmp_path, monkeypatch):
    """Fill every kind of entry for one corpus (io cache with the hour
    projection, split relation, scorer and probe broadcasts, stream
    staging); ``drop`` leaves none of them and the cached-RDD count where
    it was, while a second corpus's entries survive."""
    b = spark.newSession()  # no split relation of another corpus to evict
    c1, c2 = _corpus(tmp_path, "c1"), _corpus(tmp_path, "c2")
    monkeypatch.setenv("SPARK_GRAFT_CACHE", "1")

    def fill(c, split):
        from bigdatawork_spark.io import load

        load(b, c, "events", projection="hour").count()
        if split:
            curation._split(b, c)[0].count()
        QUERIES["knn_classify"](b, c)
        QUERIES["sim_cosine_topk"](b, c)
        stream_ops._events_source_dir(b, c)

    fill(c2, split=False)
    before = _cached_rdds(b)
    fill(c1, split=True)
    namespaces = {k[0] for k in cache.entries(b) if k[1] == c1}
    assert {"table", "split", "scorer", "probe", "stream_src"} <= namespaces
    assert _cached_rdds(b) > before
    cache.drop(b, c1)
    assert not [k for k in cache.entries(b) if k[1] == c1]
    assert _cached_rdds(b) == before
    survivors = {k[0] for k in cache.entries(b) if k[1] == c2}
    assert {"table", "scorer", "probe", "stream_src"} <= survivors
    assert cache.entries(b)[("table", c2, "events", "hour")].is_cached
    cache.drop(b, c2)


def test_split_cache_keeps_one_corpus_live(spark, tmp_path):
    """Fuzz tests over fresh tmp dirs must not leak a cached relation per
    corpus (ADVICE r10): a second corpus's split releases the first's,
    while both variants of the live corpus stay cached."""
    b = spark.newSession()
    c1, c2 = _corpus(tmp_path, "c1"), _corpus(tmp_path, "c2")
    before = _cached_rdds(b)
    first = curation._split(b, c1)[0]
    first.count()
    curation._split(b, c2)[0].count()
    assert _cached_rdds(b) == before + 1
    assert ("split", c1, True) not in cache.entries(b)
    assert not first.is_cached
    curation._split(b, c2, augmented=False)[0].count()
    assert _cached_rdds(b) == before + 2
    assert cache.entries(b)[("split", c2, True)].is_cached
    cache.drop(b, c2)


def test_probe_memo_keys_on_embeddings_mtime(spark, tmp_path):
    """Without a drop, rewriting embeddings.parquet at the same path must
    still refresh the memoized probe broadcast (r05 review)."""
    import time

    from tests.test_edge_cases import _write_embeddings

    sf = str(tmp_path)
    _write_embeddings(tmp_path, [1, 2], [[1.0, 2.0], [3.0, 4.0]])
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    assert llm_ops._cosine_probe_broadcast(spark, sf, e) is not None
    time.sleep(0.05)  # distinct mtime
    _write_embeddings(tmp_path, [10, 11], [[1.0, 2.0], [3.0, 4.0]])
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    assert llm_ops._cosine_probe_broadcast(spark, sf, e) is None
    cache.drop(spark, sf)


def test_stream_staging_is_redone_when_its_dir_is_gone(spark, sf_dir):
    """The memoized default events staging is reused only while its dir
    still holds parquet files; removed, it is staged again."""
    n = QUERIES["sink_stream_memory"](spark, sf_dir).count()
    src = cache.entries(spark)[("stream_src", sf_dir)]
    shutil.rmtree(src)
    assert QUERIES["sink_stream_memory"](spark, sf_dir).count() == n
    again = cache.entries(spark)[("stream_src", sf_dir)]
    assert again != src and os.listdir(again)


def test_engine_keeps_no_state_outside_the_session_cache():
    """No module-global mutable state (``global`` statements) and no
    attributes set or read on a session object outside cache.py."""
    offenders = []
    for root, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Global):
                    offenders.append(f"{rel}:{node.lineno}: global")
                elif (
                    rel != "cache.py"
                    and isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id in ("getattr", "setattr", "hasattr", "delattr")
                    and node.args
                    and isinstance(node.args[0], ast.Name)
                    and node.args[0].id == "spark"
                ):
                    offenders.append(f"{rel}:{node.lineno}: {node.func.id}(spark, ...)")
    assert not offenders, offenders
