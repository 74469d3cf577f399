"""End-to-end curation pipeline invariants over the harness corpus:
monotone stage survival, dedup correctness against the certified
operators, schema/determinism, and sampling reproducibility."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bbdc20_submission_spark.plans.curation import CurationConfig, curate
from bbdc20_submission_spark.sources.harness import load_table


def test_curate_stage_counts_monotone_and_nonempty(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    out, audit = curate(docs, audit=True)
    assert audit["raw"] >= audit["exact_unique"] >= audit["near_unique"]
    assert audit["near_unique"] >= audit["quality_lang_pass"] > 0
    assert audit["chunks"] >= audit["quality_lang_pass"]  # >=1 chunk/doc
    assert audit["sampled"] == audit["chunks"]  # no sampling configured
    assert out.count() == audit["chunks"]


def test_curate_drops_near_duplicates(spark, sf_dir):
    """Doc ids flagged duplicate by the certified d12 clustering must
    not survive curation."""
    from bbdc20_submission_spark.operators.chunking import dedup_clusters
    from bbdc20_submission_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_candidates,
    )

    docs = load_table(spark, "documents", sf_dir)
    cands = minhash_lsh_candidates(docs)
    pairs = jaccard_pairs(docs, cands, min_jaccard=0.5).filter(
        F.col("jaccard") >= 0.5
    )
    dup_ids = {
        r["doc_id"]
        for r in dedup_clusters(docs, pairs).filter("is_duplicate").collect()
    }
    out, _ = curate(docs)
    survivors = {r["doc_id"] for r in out.select("doc_id").distinct().collect()}
    assert dup_ids and not (survivors & dup_ids)


def test_curate_output_schema_and_quality_floor(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    cfg = CurationConfig(min_quality=0.6, keep_langs=("en",))
    out, _ = curate(docs, cfg)
    assert set(out.columns) == {
        "doc_id", "chunk_id", "chunk_text", "n_tokens", "lang_pred", "quality"
    }
    rows = out.collect()
    assert rows
    assert all(r["quality"] >= 0.6 and r["lang_pred"] == "en" for r in rows)
    assert all(1 <= r["n_tokens"] <= cfg.chunk_tokens for r in rows)


def test_curate_sampling_is_deterministic_and_rate_bounded(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    cfg = CurationConfig(sample_fractions={"en": 0.5}, keep_langs=("en",))
    out1, a1 = curate(docs, cfg, audit=True)
    out2, _ = curate(docs, cfg)
    ids1 = {(r["doc_id"], r["chunk_id"]) for r in out1.collect()}
    ids2 = {(r["doc_id"], r["chunk_id"]) for r in out2.collect()}
    assert ids1 == ids2  # pure function of the data
    # rate is binomial around 0.5; bound loosely
    assert 0.3 * a1["chunks"] <= len(ids1) <= 0.7 * a1["chunks"]


def test_curate_with_boilerplate_strip(spark, sf_dir):
    """With strip enabled, curation still runs end-to-end; shared
    banner chunks vanish from the output chunks."""
    docs = load_table(spark, "documents", sf_dir)
    banner = " ".join(f"bp{i}" for i in range(32))
    bannered = docs.select(
        "doc_id", F.concat(F.lit(banner + " "), F.col("text")).alias("text")
    )
    cfg = CurationConfig(strip_boilerplate_min_docs=2)
    out, audit = curate(bannered, cfg, audit=True)
    assert audit["boilerplate_stripped"] == audit["quality_lang_pass"]
    assert out.count() > 0
    assert out.filter(F.col("chunk_text") == banner).count() == 0


def test_curate_min_clf_score_filters(spark, sf_dir):
    """The model-based quality gate: enabling min_clf_score must drop
    exactly the docs whose classifier score is below the threshold,
    relative to the same config without the gate."""
    from pyspark.sql import functions as F

    from bbdc20_submission_spark.operators.text import classifier_quality_score
    from bbdc20_submission_spark.plans.curation import CurationConfig, curate
    from bbdc20_submission_spark.sources.harness import load_table

    docs = load_table(spark, "documents", sf_dir)
    base, _ = curate(docs, CurationConfig())
    base_docs = {r["doc_id"] for r in base.select("doc_id").distinct().collect()}
    thresh = 0.5
    gated, _ = curate(docs, CurationConfig(min_clf_score=thresh))
    gated_docs = {r["doc_id"] for r in gated.select("doc_id").distinct().collect()}
    scores = {
        r["doc_id"]: r["clf_score"]
        for r in classifier_quality_score(docs).select("doc_id", "clf_score").collect()
    }
    assert gated_docs == {d for d in base_docs if scores[d] >= thresh}
    assert gated_docs < base_docs  # the gate actually removes something


def test_curate_blocklist_rejects_sources(spark, sf_dir):
    """Stage-0 blocklist: no surviving chunk may come from a blocked
    source, the audit records the stage, and an empty blocklist is a
    no-op (identical output to the default config)."""
    docs = load_table(spark, "documents", sf_dir)
    out, audit = curate(
        docs, CurationConfig(blocked_sources=("src19",)), audit=True
    )
    assert audit["source_pass"] < audit["raw"]
    blocked_ids = {
        r["doc_id"] for r in docs.filter("source = 'src19'").collect()
    }
    survivors = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert not (survivors & blocked_ids)

    base, _ = curate(docs)
    noop, _ = curate(docs, CurationConfig(blocked_sources=None))
    assert sorted(map(tuple, noop.collect())) == sorted(
        map(tuple, base.collect())
    )


def test_curate_span_dedup_stage(spark, sf_dir):
    """Stage 2b: with span dedup on, the surviving corpus equals the
    manual composition (duplicate_span_stats over the stage-2
    survivors), empty docs drop, and the audit records the stage."""
    from bbdc20_submission_spark.operators.chunking import dedup_clusters
    from bbdc20_submission_spark.operators.dedup import (
        duplicate_span_stats,
        exact_dedup_groups,
        jaccard_pairs,
        minhash_lsh_candidates,
    )

    docs = load_table(spark, "documents", sf_dir)
    out, audit = curate(
        docs, CurationConfig(dedup_spans_min_count=2), audit=True
    )
    assert audit["span_deduped"] <= audit["near_unique"]
    assert audit["span_deduped"] > 0

    # manual stage-1..2b composition
    keep = exact_dedup_groups(docs).select(F.col("keep_id").alias("doc_id"))
    eu = docs.join(keep, "doc_id", "left_semi")
    pairs = jaccard_pairs(
        eu, minhash_lsh_candidates(eu), min_jaccard=0.5
    ).filter(F.col("jaccard") >= 0.5)
    reps = dedup_clusters(eu, pairs).filter(~F.col("is_duplicate")).select(
        "doc_id"
    )
    nu = eu.join(reps, "doc_id", "left_semi")
    from bbdc20_submission_spark.operators.chunking import scrub_text

    span_deduped = duplicate_span_stats(nu, min_count=2).filter(
        F.length("clean_text") > 0
    )
    want = {
        (r["doc_id"], r["scrubbed"])
        for r in scrub_text(
            span_deduped, "clean_text", out_col="scrubbed"
        ).collect()
    }
    # chunks reassemble to the span-deduped text
    got = {
        (r["doc_id"], r["text"])
        for r in out.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ", F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text")))
                .getField("chunk_text")
            ).alias("text")
        )
        .collect()
    }
    # got covers only docs that also passed quality/lang; every got doc
    # must match its span-deduped text exactly
    want_by_id = dict(want)
    assert len(got) > 0
    for doc_id, text in got:
        assert want_by_id.get(doc_id) == text, doc_id


def test_curate_mixture_sampling_stage(spark, sf_dir):
    """Stage 6 mixture mode: chunk shares move toward the target
    weights, membership is deterministic, and the two sampling modes
    are mutually exclusive."""
    import pytest

    docs = load_table(spark, "documents", sf_dir)
    out, audit = curate(
        docs,
        CurationConfig(
            mixture_weights={"en": 0.8, "de": 0.2},
            mixture_total_fraction=0.5,
        ),
        audit=True,
    )
    assert 0 < audit["sampled"] < audit["chunks"]
    langs = {r["lang_pred"] for r in out.select("lang_pred").distinct().collect()}
    assert langs <= {"en", "de"}  # weight-0 langs dropped
    again, _ = curate(
        docs,
        CurationConfig(
            mixture_weights={"en": 0.8, "de": 0.2},
            mixture_total_fraction=0.5,
        ),
    )
    key = lambda r: (r["doc_id"], r["chunk_id"])
    assert sorted(map(key, again.collect())) == sorted(map(key, out.collect()))

    with pytest.raises(ValueError, match="mutually exclusive"):
        curate(
            docs,
            CurationConfig(
                sample_fractions={"en": 0.5},
                mixture_weights={"en": 1.0},
            ),
        )


def test_curate_quality_keeper_policy(spark, sf_dir):
    """With keeper_score_col set, each near-dup cluster's survivor is
    its max-score member (tie -> lowest id), not the min id — and the
    set of surviving DOC ids differs from the default policy exactly
    on clusters where the two policies disagree."""
    from bbdc20_submission_spark.operators.chunking import (
        dedup_clusters,
        reselect_keepers,
    )
    from bbdc20_submission_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_candidates,
    )

    docs = load_table(spark, "documents", sf_dir)
    cands = minhash_lsh_candidates(docs)
    pairs = jaccard_pairs(docs, cands, min_jaccard=0.5).filter(
        F.col("jaccard") >= 0.5
    )
    clusters = dedup_clusters(docs, pairs)
    expected_keep = {
        r["doc_id"]
        for r in reselect_keepers(
            clusters, docs.select("doc_id", "n_chars"), score_col="n_chars"
        )
        .filter(~F.col("is_duplicate"))
        .collect()
    }
    out, _ = curate(docs, CurationConfig(keeper_score_col="n_chars"))
    survivors = {r["doc_id"] for r in out.select("doc_id").distinct().collect()}
    # survivors = expected keepers minus docs the later stages dropped
    assert survivors <= expected_keep
    # the policy must actually bite: at least one cluster keeps a
    # different (longer) member than the min-id default
    default_keep = {
        r["doc_id"]
        for r in clusters.filter(~F.col("is_duplicate")).collect()
    }
    assert expected_keep != default_keep


def test_curate_eval_set_decontaminates(spark, sf_dir):
    """curate(eval_set=...): chunks emitted by the decontaminated DAG
    contain no eval k-gram; without the stage the planted leak
    survives (non-vacuity); untouched docs produce identical chunks."""
    from bbdc20_submission_spark.operators.text import ws_tokens

    leak = "zeta yotta quibble flarn doozle wumpus grackle nimbus"
    docs = load_table(spark, "documents", sf_dir)
    # plant the leak mid-text in a handful of docs
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat_ws(" ", F.lit("prefix"), F.lit(leak), F.col("text")),
        ).otherwise(F.col("text")),
    )
    evalset = spark.createDataFrame([(f"Q {leak} A",)], "text string")

    def leaky_chunks(out):
        return out.filter(F.col("chunk_text").contains(leak)).count()

    dirty, _ = curate(planted)
    assert leaky_chunks(dirty) > 0  # the stage has something to do
    clean, audit = curate(planted, eval_set=evalset, audit=True)
    assert leaky_chunks(clean) == 0
    assert audit["decontaminated"] <= audit["near_unique"]
    # docs without the leak are untouched by the stage
    unaffected = {
        tuple(r)
        for r in dirty.filter(F.col("doc_id") % 11 != 0).collect()
    }
    assert {
        tuple(r)
        for r in clean.filter(F.col("doc_id") % 11 != 0).collect()
    } == unaffected


def test_curate_precomputed_pairs_matches_inline(spark, sf_dir):
    """Passing an externally materialized verified edge set skips the
    LSH prefix but must yield the exact same curated output — both
    with the default min-id keeper and with a quality keeper (scores
    fetched per member when the edge frame carries no score columns,
    read inline when it does)."""
    from bbdc20_submission_spark.operators.dedup import (
        exact_dedup_groups,
        hashed_shingle_sets,
        jaccard_pairs,
        minhash_lsh_candidates,
    )

    docs = load_table(spark, "documents", sf_dir)
    # the contract input: edges over the post-blocklist exact-unique
    # corpus (same prefix curate() itself applies)
    keep = exact_dedup_groups(docs).select(F.col("keep_id").alias("doc_id"))
    exact_unique = docs.join(keep, "doc_id", "left_semi")
    cands = minhash_lsh_candidates(exact_unique)
    pairs = jaccard_pairs(exact_unique, cands, min_jaccard=0.5).filter(
        F.col("jaccard") >= 0.5
    )

    def snap(df):
        return {tuple(r) for r in df.collect()}

    assert snap(curate(docs, precomputed_pairs=pairs)[0]) == snap(
        curate(docs)[0]
    )
    cfg = CurationConfig(keeper_score_col="n_chars")
    assert snap(curate(docs, cfg, precomputed_pairs=pairs)[0]) == snap(
        curate(docs, cfg)[0]
    )
    # score-carrying edge frame -> the inline path engages and agrees
    sets = hashed_shingle_sets(exact_unique, carry=("n_chars",))
    scored_pairs = jaccard_pairs(
        exact_unique, cands, sets=sets, carry=("n_chars",)
    ).filter(F.col("jaccard") >= 0.5)
    assert snap(curate(docs, cfg, precomputed_pairs=scored_pairs)[0]) == snap(
        curate(docs, cfg)[0]
    )


def test_curate_token_budget_sampling_stage(spark, sf_dir):
    """token_budgets mode: the sampled chunk set is a subset of the
    unsampled run, per-lang token sums respect budget + one-chunk
    overshoot, every budgeted lang with chunks keeps at least one, and
    the mode is deterministic and exclusive with the other two."""
    import pytest

    docs = load_table(spark, "documents", sf_dir)
    base, _ = curate(docs)
    budget = 500
    cfg = CurationConfig(token_budgets=budget)
    out, _ = curate(docs, cfg)

    key = lambda df: {
        (r["doc_id"], r["chunk_id"]) for r in df.select("doc_id", "chunk_id").collect()
    }
    kept, full = key(out), key(base)
    assert kept and kept < full

    stats = (
        out.groupBy("lang_pred")
        .agg(
            F.sum("n_tokens").alias("toks"),
            F.max("n_tokens").alias("max_chunk"),
        )
        .collect()
    )
    langs_full = {r["lang_pred"] for r in base.select("lang_pred").distinct().collect()}
    assert {r["lang_pred"] for r in stats} == langs_full  # >=1 chunk per lang
    for r in stats:
        # greedy-with-overshoot: sum < budget + the overshooting chunk
        assert r["toks"] < budget + r["max_chunk"], r

    again, _ = curate(docs, cfg)
    assert key(again) == kept

    with pytest.raises(ValueError):
        curate(
            docs,
            CurationConfig(
                token_budgets=10, mixture_weights={"en": 1.0}
            ),
        )


def test_curate_blocklist_keeps_null_sources(spark, sf_dir):
    """A NULL source is not on the blocklist: the stage-0 NOT-IN must
    not silently drop it through three-valued logic."""
    docs = load_table(spark, "documents", sf_dir).limit(50)
    nulled = docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("source")
        ),
    )
    cfg = CurationConfig(blocked_sources=("src19",))
    _, audit = curate(nulled, cfg, audit=True)
    survivors = (
        nulled.filter(
            F.col("source").isNull() | (F.col("source") != "src19")
        ).count()
    )
    assert audit["source_pass"] == survivors
    assert nulled.filter(F.col("source").isNull()).count() > 0


@pytest.mark.parametrize(
    "cfg",
    [
        CurationConfig(blocked_sources=("src19",)),
        # c1's config: the keeper policy plus the boilerplate strip and
        # its checkpoint, under observe
        CurationConfig(
            strip_boilerplate_min_docs=2,
            blocked_sources=("src19",),
            keeper_score_col="doc_len",
        ),
    ],
    ids=["blocklist", "c1"],
)
def test_curate_observe_mode_matches_audit_counts(spark, sf_dir, cfg):
    """observe=True: stage counts arrive as Observation side-channels
    of the one output action — they must equal audit mode's per-stage
    count() results while launching strictly fewer jobs than audit
    (no per-stage re-execution of the prefix; a few bookkeeping jobs
    may appear where observe nodes block exchange reuse). The observed
    run's rows equal a plain run's."""
    from collections import Counter

    from pyspark.sql import Observation

    from bbdc20_submission_spark.plans.curation import observed_counts

    docs = load_table(spark, "documents", sf_dir)
    if cfg.keeper_score_col == "doc_len":
        docs = docs.withColumn("doc_len", F.length("text"))

    tracker = spark.sparkContext.statusTracker()

    def jobs_during(fn):
        # max(jobId) deltas, not list length: the status store retains
        # only spark.ui.retainedJobs entries, so len() saturates in a
        # long session-scoped suite; job ids increase monotonically
        before = max(tracker.getJobIdsForGroup(None) or [0])
        res = fn()
        after = max(tracker.getJobIdsForGroup(None) or [0])
        return res, after - before

    def run_audit():
        _, audit = curate(docs, cfg, audit=True)
        return audit

    def run_observed():
        out, obs = curate(docs, cfg, observe=True)
        out.write.mode("overwrite").format("noop").save()
        return out, obs

    audit, jobs_audit = jobs_during(run_audit)

    # no-telemetry contract is plan-construction-time: no action needed
    _, obs = curate(docs, cfg)
    assert obs == {}

    (out_observed, obs), jobs_observed = jobs_during(run_observed)
    assert set(obs) == set(audit)
    assert all(isinstance(o, Observation) for o in obs.values())
    assert observed_counts(obs) == audit
    # no per-stage prefix re-execution: strictly fewer jobs than the
    # audit mode's count()-per-stage
    assert jobs_observed < jobs_audit, (jobs_observed, jobs_audit)

    def rows(df):
        return Counter(map(tuple, df.collect()))

    assert rows(curate(docs, cfg)[0]) == rows(out_observed)

    with pytest.raises(ValueError, match="mutually exclusive"):
        curate(docs, cfg, audit=True, observe=True)
