"""Guards on the quadratic ORACLE-PARITY twins (VERDICT r07 items 5+8).

The all-pairs twins exist to verify their bucketed/IVF production keys at
small n; pointing one at a real corpus must fail fast with a pointer to
the production key, not launch an O(n^2) plan.  ``dedup_ngram_jaccard``
is budget-safe by construction instead (df-capped blocks) — its tests pin
the cap's semantics and the Spark/SQL cap constants staying in sync.
"""

from __future__ import annotations

import re

import pytest

from bigdatawork_spark import cache
from bigdatawork_spark.operators import curation, llm_ops
from bigdatawork_spark.operators.llm_ops import TWIN_MAX_ROWS, guard_twin_size
from bigdatawork_spark.registry import ORACLES, QUERIES


def test_guard_raises_and_names_production_key(spark, sf_dir):
    from bigdatawork_spark.io import load

    big = load(spark, sf_dir, "lineitem")  # > limit at any test SF? use limit=10
    with pytest.raises(ValueError, match="production key 'knn_classify_ivf'"):
        guard_twin_size(big, "knn_classify", "knn_classify_ivf", limit=10)


def test_guard_passes_small_input(spark, sf_dir):
    from bigdatawork_spark.io import load

    emb = load(spark, sf_dir, "embeddings")
    guard_twin_size(emb, "knn_classify", "knn_classify_ivf")  # must not raise


def test_minhash_guard_raises_and_names_ladder(spark, sf_dir):
    """VERDICT r08 item 3: dedup_near_minhash is guarded like the quadratic
    twins — not all-pairs by construction, but its single-stage self-join
    saturates LSH band buckets on replica-heavy corpora; the error must
    point at the production key dedup_ladder."""
    from bigdatawork_spark.io import load

    d = load(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="production key 'dedup_ladder'"):
        guard_twin_size(
            d, "dedup_near_minhash", "dedup_ladder", limit=1,
            reason="a single-stage LSH self-join verification twin",
        )


@pytest.mark.parametrize(
    "key", ["knn_classify", "dedup_embedding_cosine", "dedup_near_minhash"]
)
def test_twins_are_guarded_in_source(key):
    """Each quadratic twin's builder calls guard_twin_size before the
    cross join — checked on source text so a refactor can't silently
    drop the guard."""
    import inspect

    src = inspect.getsource(QUERIES[key])
    assert "guard_twin_size(" in src, f"{key} lost its size guard"


def test_twin_limit_is_sane():
    assert 10_000 <= TWIN_MAX_ROWS <= 1_000_000


def test_ngram_block_cap_spark_sql_in_sync():
    """The DuckDB oracle embeds the block cap as literals (rk <= N and the
    HAVING df > N audit); they must equal the Spark-side NGRAM_BLOCK_CAP
    or the key silently diverges at scale."""
    sql = ORACLES["dedup_ngram_jaccard"]
    literals = {int(m) for m in re.findall(r"df (?:<=|>) (\d+)", sql)}
    literals |= {int(m) for m in re.findall(r"< (\d+) \* 4294967296", sql)}
    assert literals == {curation.NGRAM_BLOCK_CAP}


def test_ngram_cap_does_not_bind_at_test_sf(spark, duck, sf_dir):
    """At the driver's check scale no gram block can exceed the cap
    (corpus is 500 docs < cap) — the audit column must be all-zero, i.e.
    the plan was exhaustive and results equal the uncapped formulation."""
    df = QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
    rows = df.collect()
    assert rows, "no near-dup pairs at test SF — vacuous"
    assert all(r.n_trunc_blocks == 0 for r in rows)


def test_ngram_cap_binds_verifies_exact_and_audits(spark, tmp_path):
    """On a corpus engineered so one gram block exceeds a tiny cap:
    candidates found through untruncated blocks are still EXACT-verified
    against the FULL gram sets (the capped gram counts toward their
    intersection and sizes), and the audit column reports the overflow."""
    docs = spark.createDataFrame(
        # docs 0/1 are identical → a pair via the rare 'abc'-family
        # blocks; 'zzz' appears in all four docs → block df=4 > cap=3.
        # docs 5/6 share ONLY 'zzz' → jacc 1/|union| << 0.5, never a pair.
        [
            (0, "zzzabcabcabc", "en"),
            (1, "zzzabcabcabc", "en"),
            (5, "zzzqqqqrrrr", "en"),
            (6, "zzzwwwwpppp", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    tdir = str(tmp_path / "minicorpus")
    docs.write.mode("overwrite").parquet(f"{tdir}/documents.parquet")
    old = curation.NGRAM_BLOCK_CAP
    curation.NGRAM_BLOCK_CAP = 3
    try:
        out = QUERIES["dedup_ngram_jaccard"](spark, tdir).collect()
    finally:
        curation.NGRAM_BLOCK_CAP = old
    assert out and all(r.n_trunc_blocks == 1 for r in out)
    pairs = {(r.id_a, r.id_b) for r in out}
    assert (0, 1) in pairs
    assert (5, 6) not in pairs
    # exact verify: identical docs → jacc exactly 1.0 even though one of
    # their shared grams lives in a truncated block
    jacc01 = next(r.jacc for r in out if (r.id_a, r.id_b) == (0, 1))
    assert jacc01 == 1.0


def test_llm_ops_exports_guard():
    assert callable(llm_ops.guard_twin_size)


def test_guard_audit_mode_caps_instead_of_raising(spark, sf_dir, monkeypatch):
    """VERDICT r12 item 5: under the scale audit's env switch an oversize
    twin input is CAPPED to the limit and the cap recorded, so the sf1.0
    audit completes every key with the cap on the record; without the
    switch the guard still raises (users keep the fail-fast)."""
    from bigdatawork_spark.io import load
    from bigdatawork_spark.operators.llm_ops import (
        TWIN_AUDIT_ENV,
        TWIN_CAPS_APPLIED,
        guard_twin_size,
    )

    big = load(spark, sf_dir, "lineitem")
    n = big.count()
    assert n > 10

    monkeypatch.delenv(TWIN_AUDIT_ENV, raising=False)
    with pytest.raises(ValueError, match="production key"):
        guard_twin_size(big, "knn_classify", "knn_classify_ivf", limit=10)

    monkeypatch.setenv(TWIN_AUDIT_ENV, "1")
    TWIN_CAPS_APPLIED.clear()
    capped = guard_twin_size(big, "knn_classify", "knn_classify_ivf", limit=10)
    assert capped.count() == 10
    assert TWIN_CAPS_APPLIED["knn_classify"] == (n, 10)
    # the env VALUE is the audit ceiling when below the fail-fast limit
    # (r13: sf1.0 corpora sit exactly AT the 50k ceiling, so a bare flag
    # capped nothing and the twins still timed out) — and the capped
    # relation must be re-spread, not left on limit()'s single partition
    monkeypatch.setenv(TWIN_AUDIT_ENV, "7")
    TWIN_CAPS_APPLIED.clear()
    capped = guard_twin_size(big, "knn_classify", "knn_classify_ivf", limit=10)
    assert capped.count() == 7
    assert TWIN_CAPS_APPLIED["knn_classify"] == (n, 7)
    assert capped.rdd.getNumPartitions() > 1
    # a sized env never RAISES the builder's own limit
    monkeypatch.setenv(TWIN_AUDIT_ENV, "1000000")
    TWIN_CAPS_APPLIED.clear()
    capped = guard_twin_size(big, "knn_classify", "knn_classify_ivf", limit=10)
    assert capped.count() == 10
    assert TWIN_CAPS_APPLIED["knn_classify"] == (n, 10)
    # small inputs pass through untouched and record nothing
    TWIN_CAPS_APPLIED.clear()
    small = big.limit(5)
    assert guard_twin_size(small, "k", "p", limit=10) is small
    assert not TWIN_CAPS_APPLIED


def test_audit_cap_env_rejects_malformed_values(spark, monkeypatch):
    """ADVICE r13: a typo'd audit env ('5k', '5_000', ' -3') must raise,
    not silently degrade to the 50k ceiling — that reproduces exactly the
    at-the-ceiling timeout audit mode exists to avoid."""
    df = spark.range(100)
    # "" is falsy → audit mode simply OFF (unset-equivalent), so it is
    # not in this list; "  " is truthy and must raise.
    for bad in ("5k", "5_000", "-3", "0", "  "):
        monkeypatch.setenv(llm_ops.TWIN_AUDIT_ENV, bad)
        with pytest.raises(ValueError, match="not a positive integer"):
            guard_twin_size(df, "k", "prod", limit=10)


def test_audit_cap_env_accepts_padded_int_and_bare_flag(spark, monkeypatch):
    """' 5 ' (whitespace-padded) is a valid ceiling; '1' is the documented
    bare-flag spelling (audit on, ceiling = the declared limit)."""
    df = spark.range(100)
    llm_ops.TWIN_CAPS_APPLIED.clear()
    monkeypatch.setenv(llm_ops.TWIN_AUDIT_ENV, " 5 ")
    out = guard_twin_size(df, "k_pad", "prod", limit=10)
    assert out.count() == 5 and llm_ops.TWIN_CAPS_APPLIED["k_pad"] == (100, 5)
    monkeypatch.setenv(llm_ops.TWIN_AUDIT_ENV, "1")
    out = guard_twin_size(df, "k_flag", "prod", limit=10)
    assert out.count() == 10 and llm_ops.TWIN_CAPS_APPLIED["k_flag"] == (100, 10)


@pytest.mark.parametrize("key", ["knn_classify", "dedup_embedding_cosine"])
def test_scorer_memo_pins_frame_only_on_audit_capped_path(
    key, spark, sf_dir, monkeypatch
):
    """The scorer twins memoize their collected corpus per session.  The
    pandas copy (~26 MB at the twin cap) is needed only when the audit
    mode capped the input, to re-derive the probe side from the same rows;
    an uncapped session's memo must hold just the broadcast handle."""

    def memo_entry(audit):
        return cache.entries(spark)[("scorer", sf_dir, key, audit)]

    llm_ops.TWIN_CAPS_APPLIED.clear()
    monkeypatch.delenv(llm_ops.TWIN_AUDIT_ENV, raising=False)
    QUERIES[key](spark, sf_dir).count()
    assert memo_entry(None)[1] is None
    monkeypatch.setenv(llm_ops.TWIN_AUDIT_ENV, "40")
    try:
        QUERIES[key](spark, sf_dir).count()
        assert llm_ops.TWIN_CAPS_APPLIED[key][1] == 40
        frame = memo_entry("40")[1]
        assert frame is not None and len(frame) == 40
    finally:
        llm_ops.TWIN_CAPS_APPLIED.clear()
