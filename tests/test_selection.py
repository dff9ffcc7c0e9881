"""DSIR importance resampling (willa_spark.functions.selection):
pure-Python differential oracle for the log-weight arithmetic, hashed
vs exact feature-space agreement, planted-separation selection, and
the determinism/partition-invariance contract of the hash-Gumbel
resampler."""

import math
import statistics

import pytest
from pyspark.sql import functions as F

from willa_spark.functions import selection as SEL


def _mk(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _py_grams(text, ns=(1, 2)):
    toks = text.lower().strip().split()
    out = []
    for n in ns:
        out += [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    return out


def _py_model(texts, smooth):
    counts = {}
    for t in texts:
        for g in _py_grams(t):
            counts[g] = counts.get(g, 0) + 1
    total = sum(counts.values())
    space = len(counts)
    denom = total + smooth * space
    logp = {g: math.log((c + smooth) / denom) for g, c in counts.items()}
    return logp, math.log(smooth / denom)


def _py_weight(text, tgt, raw):
    tlp, tfl = tgt
    rlp, rfl = raw
    return sum(tlp.get(g, tfl) - rlp.get(g, rfl) for g in _py_grams(text))


RAW = [
    (0, "alpha beta gamma delta alpha"),
    (1, "epsilon zeta eta theta"),
    (2, "alpha beta alpha beta gamma"),
    (3, "iota kappa lambda mu nu"),
    (4, ""),
]
TARGET = [(100, "alpha beta gamma"), (101, "beta gamma delta alpha")]


def test_importance_weights_python_differential(spark):
    """Exact feature space (num_buckets=None): every document's
    log-weight equals the pure-Python DSIR arithmetic (smoothed
    per-corpus denominators, floor for unseen features) to 1e-9."""
    docs, tdocs = _mk(spark, RAW), _mk(spark, TARGET)
    tm = SEL.feature_log_probs(tdocs, num_buckets=None)
    rm = SEL.feature_log_probs(docs, num_buckets=None)
    got = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in SEL.importance_log_weights(docs, tm, rm, num_buckets=None).collect()
    }
    tgt = _py_model([t for _, t in TARGET], SEL.DEFAULT_SMOOTH)
    raw = _py_model([t for _, t in RAW], SEL.DEFAULT_SMOOTH)
    for i, text in RAW:
        grams = _py_grams(text)
        if not grams:
            assert i not in got  # no features -> no weight row
            continue
        n, w = got[i]
        assert n == len(grams)
        assert w == pytest.approx(_py_weight(text, tgt, raw), abs=1e-9)
    # target-vocabulary docs must outscore off-vocabulary docs
    assert min(got[0][1], got[2][1]) > max(got[1][1], got[3][1])


def test_hashed_features_count_identically_without_collisions(spark):
    """With a bucket space far above the vocabulary (collision-free —
    asserted, not assumed), the hashed feature extraction must
    reproduce the exact space's per-doc count multiset and totals
    exactly (a bucket bias, lossy mod, or dropped gram would show up
    as a count difference before it ever skews a model)."""
    docs = _mk(spark, RAW)
    exact = SEL._gram_features(docs, None, (1, 2), "doc_id", "text")
    hashed = SEL._gram_features(docs, 1 << 30, (1, 2), "doc_id", "text")
    n_exact = exact.select("feature").distinct().count()
    n_hashed = hashed.select("feature").distinct().count()
    assert n_exact == n_hashed  # collision-free on this vocab
    a = sorted((r["id"], r["cnt"]) for r in exact.collect())
    b = sorted((r["id"], r["cnt"]) for r in hashed.collect())
    assert a == b


def test_dsir_select_planted_separation(spark):
    """Selection end-to-end under hashed features: half the corpus
    speaks the target vocabulary, half junk; the importance gap (tens
    of nats for 30-gram docs) dwarfs the Gumbel noise range, so the
    selected half must be exactly the target-like docs — and the
    result must be identical under repartitioning and across calls
    (the hash-Gumbel determinism contract)."""
    tgt_vocab = "sun moon star cloud rain wind snow storm".split()
    junk_vocab = "bolt gear cog shaft flange rivet washer spring".split()
    rows = []
    for i in range(40):
        vocab = tgt_vocab if i % 2 == 0 else junk_vocab
        rows.append((i, " ".join(vocab[(i + j) % 8] for j in range(30))))
    docs = _mk(spark, rows)
    seed_rows = [(1000 + i, " ".join(tgt_vocab[(i + j) % 8] for j in range(20))) for i in range(5)]
    tdocs = _mk(spark, seed_rows)
    sel = SEL.dsir_select(docs, tdocs, k=20, num_buckets=4096, seed=7)
    ids = {r["doc_id"] for r in sel.collect()}
    assert ids == {i for i in range(40) if i % 2 == 0}, ids
    again = {
        r["doc_id"]
        for r in SEL.dsir_select(
            docs.repartition(7), tdocs.repartition(3), k=20, num_buckets=4096, seed=7
        ).collect()
    }
    assert again == ids


def test_dsir_scoring_models_broadcast(spark):
    """The model frames must reach the scoring join as broadcasts (the
    corpus side never shuffles for them — the eval-gram discipline)."""
    docs, tdocs = _mk(spark, RAW), _mk(spark, TARGET)
    tm = SEL.feature_log_probs(tdocs, num_buckets=64)
    rm = SEL.feature_log_probs(docs, num_buckets=64)
    plan = (
        SEL.importance_log_weights(docs, tm, rm, num_buckets=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_dsir_temperature_zero_limit_is_topk_by_weight(spark):
    """Tiny temperature turns the sampler into deterministic top-k by
    log-weight: selection must match the weight ordering exactly."""
    docs, tdocs = _mk(spark, RAW), _mk(spark, TARGET)
    tm = SEL.feature_log_probs(tdocs, num_buckets=None)
    rm = SEL.feature_log_probs(docs, num_buckets=None)
    w = {
        r["doc_id"]: r["log_weight"]
        for r in SEL.importance_log_weights(docs, tm, rm, num_buckets=None).collect()
    }
    top2 = {i for i, _ in sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))[:2]}
    sel = {
        r["doc_id"]
        for r in SEL.dsir_select(
            docs, tdocs, k=2, num_buckets=None, temperature=1e-9, seed=3
        ).collect()
    }
    assert sel == top2


def test_dsir_select_null_id_fails_loud(spark):
    """A NULL doc id must raise in-plan, not silently share one Gumbel
    draw across every NULL-id doc (xxhash64 ignores NULL inputs)."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (None, "d e f")], "doc_id bigint, text string"
    )
    tdocs = _mk(spark, TARGET)
    with pytest.raises(Exception, match="NULL document id"):
        SEL.dsir_select(docs, tdocs, k=2, num_buckets=64).collect()


def test_dsir_empty_model_fails_loud(spark):
    """A feature-less model corpus (all-whitespace texts) must raise
    in-plan, not silently NULL every weight (which would turn
    selection into lowest-id-wins)."""
    docs = _mk(spark, RAW)
    empty_target = _mk(spark, [(900, ""), (901, "   ")])
    tm = SEL.feature_log_probs(empty_target, num_buckets=None)
    rm = SEL.feature_log_probs(docs, num_buckets=None)
    with pytest.raises(Exception, match="target model is empty"):
        SEL.importance_log_weights(docs, tm, rm, num_buckets=None).collect()


def test_dsir_temperature_zero_rejected(spark):
    """temperature=0 would make every sample key ±Inf/NaN (and Spark
    sorts NaN above all doubles) — rejected up front."""
    docs, tdocs = _mk(spark, RAW), _mk(spark, TARGET)
    with pytest.raises(ValueError, match="temperature must be > 0"):
        SEL.dsir_select(docs, tdocs, k=2, temperature=0.0)


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_dsir_weights_oracle_parity(spark, sf_dir):
    """The r10 registration candidate, parity-pinned NOW (the parked-
    entry de-risking discipline): queries.q_dsir_weights vs its full
    DuckDB oracle on the real corpus — every doc's n_grams exact and
    6dp log_weight equal across engines."""
    import duckdb

    from willa_spark.queries import DSIR_WEIGHTS_ORACLE, q_dsir_weights

    got = sorted(
        (r["doc_id"], r["n_grams"], r["log_weight"])
        for r in q_dsir_weights(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(DSIR_WEIGHTS_ORACLE).fetchall())
    # STRICT equality — the driver's gate hashes values, so the pin
    # must be hash-grade (measured bit-exact after 6dp rounding at
    # sf0.001/0.01/0.1: zero mismatches across 6000 docs)
    assert len(got) == len(want) > 0
    assert got == want


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_perplexity_bands_oracle_parity(spark, sf_dir):
    """The CCNet banding registration candidate (queued r10 for the
    r11 gate), parity-pinned NOW: queries.q_perplexity_bands vs its
    full DuckDB oracle — n_grams exact, 6dp cross_entropy equal, and
    the head/middle/tail label computed from the ROUNDED score so a
    last-ulp engine difference can never flip a boundary bucket."""
    import duckdb

    from willa_spark.queries import PERPLEXITY_BANDS_ORACLE, q_perplexity_bands

    got = sorted(
        (r["doc_id"], r["n_grams"], r["cross_entropy"], r["quality_bucket"])
        for r in q_perplexity_bands(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(
        tuple(r) for r in con.execute(PERPLEXITY_BANDS_ORACLE).fetchall()
    )
    assert len(got) == len(want) > 0
    assert got == want
    # the banding must be a real three-way split on this corpus, not a
    # vacuous single-band labeling
    assert len({b for _, _, _, b in got}) >= 2


def test_dsir_score_step_congruent_with_batch(spark):
    """Streaming scoring twin: frozen models + per-batch application
    of the batch kernel ⇒ the union of step outputs over any batch
    split must equal the batch weights over the full corpus exactly
    (weights are per-doc functions of the static models), and the
    threshold admission must drop exactly the below-threshold docs."""
    from willa_spark.streaming.selection import dsir_score_step

    docs, tdocs = _mk(spark, RAW), _mk(spark, TARGET)
    tm = SEL.feature_log_probs(tdocs, num_buckets=4096)
    rm = SEL.feature_log_probs(docs, num_buckets=4096)
    want = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in SEL.importance_log_weights(docs, tm, rm, num_buckets=4096).collect()
    }

    step = dsir_score_step(tm, rm, num_buckets=4096)
    got = {}
    for bid, ids in enumerate(([0, 1], [2], [3, 4])):
        batch = _mk(spark, [r for r in RAW if r[0] in ids])
        for r in step(batch, bid).collect():
            got[r["doc_id"]] = (r["n_grams"], r["log_weight"])
            assert r["text"] is not None  # original columns survive
    assert got == want

    thresh = sorted(w for _, w in want.values())[len(want) // 2]
    admit = dsir_score_step(tm, rm, min_log_weight=thresh, num_buckets=4096)
    kept = {r["doc_id"] for r in admit(_mk(spark, RAW), 0).collect()}
    assert kept == {i for i, (_, w) in want.items() if w >= thresh}


def test_cross_entropy_python_differential_and_separation(spark):
    """CCNet-style cross-entropy: exact feature space matches the
    pure-Python mean NLL to 1e-9; target-vocabulary docs must score
    LOWER (closer to the model) than off-vocabulary docs; a
    feature-less model fails loud."""
    docs, tdocs = _mk(spark, RAW), _mk(spark, TARGET)
    model = SEL.feature_log_probs(tdocs, num_buckets=None)
    got = {
        r["doc_id"]: (r["n_grams"], r["cross_entropy"])
        for r in SEL.cross_entropy_score(docs, model, num_buckets=None).collect()
    }
    tlp, tfl = _py_model([t for _, t in TARGET], SEL.DEFAULT_SMOOTH)
    for i, text in RAW:
        grams = _py_grams(text)
        if not grams:
            assert i not in got
            continue
        want = -sum(tlp.get(g, tfl) for g in grams) / len(grams)
        assert got[i][0] == len(grams)
        assert got[i][1] == pytest.approx(want, abs=1e-9), i
    assert max(got[0][1], got[2][1]) < min(got[1][1], got[3][1])

    empty = SEL.feature_log_probs(_mk(spark, [(9, " ")]), num_buckets=None)
    with pytest.raises(Exception, match="model is empty"):
        SEL.cross_entropy_score(docs, empty, num_buckets=None).collect()


def test_quality_bucket_banding(spark):
    """head/middle/tail banding: boundary semantics exact (head is
    strict-<, tail is >=), bounds validated."""
    scored = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (2, 2.5), (3, 3.0), (4, 9.9)],
        ["doc_id", "cross_entropy"],
    )
    got = {
        r["doc_id"]: r["quality_bucket"]
        for r in SEL.with_quality_bucket(scored, 2.0, 3.0).collect()
    }
    assert got == {0: "head", 1: "middle", 2: "middle", 3: "tail", 4: "tail"}
    with pytest.raises(ValueError, match="head_bound"):
        SEL.with_quality_bucket(scored, 3.0, 2.0)


def test_dsir_score_step_id_hygiene_fails_loud(spark):
    """Streaming step: NULL ids (silent drop in the re-join) and
    within-batch duplicate ids (grams merged into one doubled-weight
    row on both copies) must raise in-plan, not corrupt admission."""
    from willa_spark.streaming.selection import dsir_score_step

    docs, tdocs = _mk(spark, RAW), _mk(spark, TARGET)
    tm = SEL.feature_log_probs(tdocs, num_buckets=64)
    rm = SEL.feature_log_probs(docs, num_buckets=64)
    step = dsir_score_step(tm, rm, num_buckets=64)
    nulls = spark.createDataFrame(
        [(1, "a b"), (None, "c d")], "doc_id bigint, text string"
    )
    with pytest.raises(Exception, match="NULL document id"):
        step(nulls, 0).collect()
    dups = _mk(spark, [(7, "alpha beta"), (7, "alpha beta")])
    with pytest.raises(Exception, match="duplicate id"):
        step(dups, 1).collect()


def test_quality_bucket_null_score_fails_loud(spark):
    """A NULL cross_entropy must raise, not band confidently as
    'tail' through the otherwise() branch."""
    scored = spark.createDataFrame(
        [(0, 1.0), (1, None)], "doc_id bigint, cross_entropy double"
    )
    with pytest.raises(Exception, match="NULL cross_entropy"):
        SEL.with_quality_bucket(scored, 2.0, 3.0).collect()


from hypothesis import HealthCheck, given, settings, strategies as st

_splits = st.lists(st.integers(min_value=0, max_value=2), min_size=5, max_size=5)


@given(assign=_splits)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dsir_score_step_congruent_under_any_split(spark, assign):
    """Hypothesis: for ANY assignment of the corpus to micro-batches
    (including empty batches), the union of step outputs equals the
    batch kernel over the full corpus exactly — the frozen-model
    stateless contract."""
    from willa_spark.streaming.selection import dsir_score_step

    docs, tdocs = _mk(spark, RAW), _mk(spark, TARGET)
    tm = SEL.feature_log_probs(tdocs, num_buckets=256)
    rm = SEL.feature_log_probs(docs, num_buckets=256)
    want = {
        (r["doc_id"], r["n_grams"], r["log_weight"])
        for r in SEL.importance_log_weights(docs, tm, rm, num_buckets=256).collect()
    }
    step = dsir_score_step(tm, rm, num_buckets=256)
    got = set()
    for bid in range(3):
        ids = [RAW[i][0] for i in range(5) if assign[i] == bid]
        batch = spark.createDataFrame(
            [r for r in RAW if r[0] in ids], "doc_id bigint, text string"
        )
        got |= {
            (r["doc_id"], r["n_grams"], r["log_weight"])
            for r in step(batch, bid).collect()
        }
    assert got == want


def test_streaming_novelty_prefix_congruity_and_replay(spark, tmp_path):
    """novelty_score_step: batch i's scores equal
    cross_entropy_score(batch_i, feature_log_probs(union of batches
    < i)) EXACTLY (counts are sums — the prior model is exact over
    any batching); the first batch yields an empty frame with the
    schema intact while its counts still fold in; a replayed batch
    scores against exactly what its first attempt saw (strictly-prior
    probe) and never double-counts itself."""
    import os

    from willa_spark.functions.selection import (
        cross_entropy_score,
        feature_log_probs,
    )
    from willa_spark.streaming.novelty import novelty_score_step

    texts = [
        "spark table join scan",
        "spark table join scan filter",   # close to batch 0 -> low ce
        "quantum lepton boson entropy",   # far from batch 0+1 -> high ce
        "spark scan scan table",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    batches = [docs.filter(F.col("doc_id") == i) for i in range(4)]
    store = os.path.join(str(tmp_path), "novelty-store")
    step = novelty_score_step(store, num_buckets=None)

    out0 = step(batches[0], 0)
    assert out0.count() == 0
    assert [f.name for f in out0.schema.fields] == [
        "doc_id", "n_grams", "novelty_ce",
    ]

    got = {}
    for i in (1, 2, 3):
        got[i] = sorted(tuple(r) for r in step(batches[i], i).collect())
        prior = docs.filter(F.col("doc_id") < i)
        want = sorted(
            tuple(r)
            for r in cross_entropy_score(
                batches[i], feature_log_probs(prior, num_buckets=None),
                num_buckets=None,
            ).collect()
        )
        assert got[i] == want and want
    # the unlike-everything doc scores MORE novel than the similar one
    assert got[2][0][2] > got[1][0][2]
    # replay of batch 2: same prior state, same scores, no store dup
    replay = sorted(tuple(r) for r in step(batches[2], 2).collect())
    assert replay == got[2]
    cnts = spark.read.parquet(os.path.join(store, "feature_counts"))
    assert cnts.select("ingest_batch").distinct().count() == 4


def test_streaming_novelty_guards_and_empty_batches(spark, tmp_path):
    """Self-review regressions: NULL and duplicate ids fail loud
    BEFORE any counts persist (the corruption would be unrepairable —
    replays rewrite the same doubled counts); an all-empty first
    batch appends nothing, so the next batch still (correctly) has no
    prior model; the batch-0 empty frame carries the CALLER's id type
    (string here), not a hard-coded bigint."""
    import os

    from willa_spark.streaming.novelty import novelty_score_step

    store = os.path.join(str(tmp_path), "nov-guard")
    step = novelty_score_step(store, num_buckets=None, id_col="url")
    strdocs = spark.createDataFrame(
        [("u1", "alpha beta"), ("u2", "gamma")], "url string, text string"
    )
    out0 = step(strdocs, 0)
    assert dict(out0.dtypes)["url"] == "string" and out0.count() == 0

    with pytest.raises(ValueError, match="NULL url"):
        step(
            spark.createDataFrame(
                [(None, "x y")], "url string, text string"
            ),
            1,
        )
    with pytest.raises(ValueError, match="duplicate url"):
        step(
            spark.createDataFrame(
                [("u9", "x"), ("u9", "y")], "url string, text string"
            ),
            1,
        )
    # neither failed batch persisted anything
    cnts = spark.read.parquet(os.path.join(store, "feature_counts"))
    assert cnts.select("ingest_batch").distinct().count() == 1

    store2 = os.path.join(str(tmp_path), "nov-empty")
    step2 = novelty_score_step(store2, num_buckets=None)
    empty = spark.createDataFrame(
        [(0, ""), (1, "   ")], "doc_id long, text string"
    )
    assert step2(empty, 0).count() == 0
    # the all-empty batch appended NO partition -> batch 1 still has
    # no prior model (not a loud empty-model error)
    real = spark.createDataFrame([(2, "a b c")], "doc_id long, text string")
    assert step2(real, 1).count() == 0
    assert not os.path.exists(os.path.join(store2, "feature_counts",
                                           "ingest_batch=0"))


def test_domain_relevance_literal_fixture_and_guards(spark):
    """source_centroid / domain_relevance vs hand arithmetic: centroid
    of the target source is the element-wise mean; every doc's score
    is the exact cosine to it (6dp); an empty target source fails
    LOUD in-plan (an empty centroid would score everything NULL)."""
    rows = [
        (0, "a", [1.0, 0.0]),
        (1, "a", [0.0, 1.0]),   # centroid of 'a' = [0.5, 0.5]
        (2, "b", [1.0, 1.0]),   # cosine to centroid = 1.0
        (3, "b", [-1.0, -1.0]),  # cosine = -1.0
        (4, "b", [1.0, 0.0]),   # cosine = cos(45deg)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, embedding array<double>"
    )
    got = {
        r["doc_id"]: (r["source"], r["domain_rel"])
        for r in SEL.domain_relevance(df, "a").collect()
    }
    c = [0.5, 0.5]

    def cos(v):
        num = sum(x * y for x, y in zip(v, c))
        return round(
            num / (math.sqrt(sum(x * x for x in v)) * math.sqrt(0.5)), 6
        )

    assert got == {i: (s_, cos(v)) for i, s_, v in rows}
    assert got[2][1] == 1.0 and got[3][1] == -1.0
    with pytest.raises(Exception, match="no vectors for target source"):
        SEL.domain_relevance(df, "nope").collect()
    # ragged target vectors / corpus-vs-centroid dimension mismatches
    # fail LOUD, never a silent all-NULL score column (r10 review)
    ragged = spark.createDataFrame(
        rows + [(9, "a", [1.0, 2.0, 3.0])],
        "doc_id long, source string, embedding array<double>",
    )
    with pytest.raises(Exception, match="ragged vector lengths"):
        SEL.domain_relevance(ragged, "a").collect()
    bad_corpus = spark.createDataFrame(
        rows + [(9, "b", [1.0, 2.0, 3.0])],
        "doc_id long, source string, embedding array<double>",
    )
    with pytest.raises(Exception, match="vector length != centroid"):
        SEL.domain_relevance(bad_corpus, "a").collect()
    # the centroid must reach the scan as a broadcast
    plan = (
        SEL.domain_relevance(df, "a")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_domain_relevance_oracle_parity(spark):
    """The registration candidate (queued r10): full hash-grade parity
    on the real corpus — target-source centroid + per-doc 6dp cosine
    equal across engines."""
    import duckdb

    from willa_spark.queries import DOMAIN_RELEVANCE_ORACLE, q_domain_relevance

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in q_domain_relevance(spark, sf_dir).collect())
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = sorted(tuple(r) for r in con.execute(DOMAIN_RELEVANCE_ORACLE).fetchall())
    assert len(got) == len(want) > 0
    assert got == want
    # target-source docs must on average outscore the rest (the
    # signal the operator exists to produce)
    tgt = [r[2] for r in got if r[1] == "src0"]
    rest = [r[2] for r in got if r[1] != "src0"]
    assert statistics.mean(tgt) > statistics.mean(rest)


def test_streaming_domain_relevance_step_congruent_with_batch(spark):
    """Frozen centroid => union of per-batch scores over any split
    equals batch domain_relevance exactly; min_rel admission filters
    per batch; the shared kernel's dimension guard rides along."""
    rows = [
        (0, "a", [1.0, 0.0]),
        (1, "a", [0.0, 1.0]),
        (2, "b", [1.0, 1.0]),
        (3, "b", [-1.0, -1.0]),
        (4, "b", [1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, embedding array<double>"
    )
    cent = SEL.source_centroid(df, "a")
    from willa_spark.streaming.selection import domain_relevance_step

    step = domain_relevance_step(cent)
    got = sorted(
        tuple(r)
        for m in (0, 1)
        for r in step(df.filter(F.col("doc_id") % 2 == m), m).collect()
    )
    want = sorted(tuple(r) for r in SEL.domain_relevance(df, "a").collect())
    assert got == want
    admitted = {
        r["doc_id"]
        for m in (0, 1)
        for r in domain_relevance_step(cent, min_rel=0.9)(
            df.filter(F.col("doc_id") % 2 == m), m
        ).collect()
    }
    # cos to [0.5, 0.5]: axis docs = 0.7071, diagonal = 1.0, so only
    # the diagonal doc clears 0.9
    assert admitted == {2}
    bad = spark.createDataFrame(
        [(9, "b", [1.0, 2.0, 3.0])],
        "doc_id long, source string, embedding array<double>",
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="vector length != centroid"):
        step(bad, 0).collect()


def test_kl_divergence_profile_python_differential(spark):
    """Smoothed per-stratum KL vs pure-Python arithmetic on a literal
    fixture (shared corpus vocab, generated zero rows, floor mass for
    absent grams); a stratum equal to the corpus mix scores ~0, a
    vocabulary-disjoint stratum scores far higher; NULL groups fail
    loud."""
    rows = [
        (0, "a", "x y x y"),
        (1, "a", "x y y z"),
        (2, "b", "p q p q"),
        (3, "b", "p q z z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r["lang"]: (r["n_grams"], r["kl_to_corpus"])
        for r in SEL.kl_divergence_profile(df, group_col="lang", ns=(1,)).collect()
    }

    s_ = SEL.DEFAULT_SMOOTH
    toks = {i: t.split() for i, _, t in rows}
    corpus = {}
    for ts in toks.values():
        for t in ts:
            corpus[t] = corpus.get(t, 0) + 1
    T, V = sum(corpus.values()), len(corpus)
    want = {}
    for grp in ("a", "b"):
        cg = {}
        for i, g, t in rows:
            if g == grp:
                for tok in t.split():
                    cg[tok] = cg.get(tok, 0) + 1
        Tg = sum(cg.values())
        kl = 0.0
        for v, c in corpus.items():
            p = (cg.get(v, 0) + s_) / (Tg + s_ * V)
            q = (c + s_) / (T + s_ * V)
            import math

            kl += p * math.log(p / q)
        want[grp] = (Tg, round(kl, 6))
    assert got == want
    assert got["a"][1] > 0.1 and got["b"][1] > 0.1  # disjoint-ish strata
    # a stratum that IS the corpus mix diverges ~0
    same = spark.createDataFrame(
        [(0, "a", "x y z"), (1, "b", "x y z")],
        "doc_id long, lang string, text string",
    )
    kl0 = {
        r["lang"]: r["kl_to_corpus"]
        for r in SEL.kl_divergence_profile(same, group_col="lang", ns=(1,)).collect()
    }
    assert all(abs(v) < 1e-6 for v in kl0.values()), kl0
    bad = spark.createDataFrame(
        [(0, None, "x y")], "doc_id long, lang string, text string"
    )
    with pytest.raises(Exception, match="NULL lang"):
        SEL.kl_divergence_profile(bad, group_col="lang").collect()


def test_kl_profile_vocab_bound_knobs(spark):
    """The r10-verdict vocabulary bound: top_v / min_count truncate
    the generate-join's feature space. Wide-open knobs are the
    identity (truncated ≡ full when top_v ≥ |V| and min_count=1); a
    real truncation re-derives totals/|V|/floor mass from the KEPT
    grams only — verified against pure-Python arithmetic over the
    truncated space."""
    rows = [
        (0, "a", "x y x y"),
        (1, "a", "x y y z"),
        (2, "b", "p q p q"),
        (3, "b", "p q z z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    full = {
        (r["lang"], r["n_grams"], r["kl_to_corpus"])
        for r in SEL.kl_divergence_profile(df, group_col="lang").collect()
    }
    wide = {
        (r["lang"], r["n_grams"], r["kl_to_corpus"])
        for r in SEL.kl_divergence_profile(
            df, group_col="lang", top_v=10**6, min_count=1
        ).collect()
    }
    assert wide == full

    # top_v=3 keeps (count desc, gram asc): y(4), p(3)... corpus
    # counts: x3 y4 z3 p3 q3 → y4, then p3 (tie block p<q<x<z) , q3
    got = {
        r["lang"]: (r["n_grams"], r["kl_to_corpus"])
        for r in SEL.kl_divergence_profile(
            df, group_col="lang", top_v=3
        ).collect()
    }
    import math

    s_ = SEL.DEFAULT_SMOOTH
    kept = {"y": 4, "p": 3, "q": 3}
    T, V = sum(kept.values()), len(kept)
    cg_all = {
        "a": {"x": 3, "y": 4, "z": 1},
        "b": {"p": 3, "q": 3, "z": 2},
    }
    want = {}
    for grp, cg in cg_all.items():
        kept_g = {v: c for v, c in cg.items() if v in kept}
        Tg = sum(kept_g.values())
        kl = sum(
            ((kept_g.get(v, 0) + s_) / (Tg + s_ * V))
            * math.log(
                ((kept_g.get(v, 0) + s_) / (Tg + s_ * V))
                / ((c + s_) / (T + s_ * V))
            )
            for v, c in kept.items()
        )
        want[grp] = (Tg, round(kl, 6))
    assert got == want

    # min_count=3 drops z(3)? no — z has 3; drops nothing under 3;
    # min_count=4 keeps only y
    only_y = {
        r["lang"]: r["n_grams"]
        for r in SEL.kl_divergence_profile(
            df, group_col="lang", min_count=4
        ).collect()
    }
    assert only_y == {"a": 4, "b": 0}

    # truncation that empties the VOCABULARY must fail loud, never
    # return an empty monitoring frame (r11 review: the empty kept
    # set silently dropped every stratum)
    with pytest.raises(Exception, match="emptied the corpus vocabulary"):
        SEL.kl_divergence_profile(df, group_col="lang", min_count=99).collect()
    with pytest.raises(Exception, match="emptied the corpus vocabulary"):
        SEL.kl_divergence_profile(df, group_col="lang", top_v=0).collect()


def test_kl_profile_oracle_parity(spark):
    """The registration candidate (queued r10): hash-grade parity on
    the real corpus — per-language smoothed KL equal across engines
    at 6dp."""
    import duckdb

    from willa_spark.queries import KL_PROFILE_ORACLE, q_kl_profile

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in q_kl_profile(spark, sf_dir).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(KL_PROFILE_ORACLE).fetchall())
    assert len(got) == len(want) > 0
    assert got == want


def test_streaming_kl_drift_step_differential_and_replay(spark, tmp_path):
    """The drift monitor vs pure-Python arithmetic: batch 0 (no
    prior) emits zero rows and seeds the store; batch 1 scores
    against exactly batch 0's counts (union vocab, both sides
    smoothed); a distribution-shifted batch scores far higher than a
    same-mix batch; replaying a batch returns the same row (the
    strictly-prior store discipline)."""
    import math

    from willa_spark.streaming.selection import kl_drift_step

    store = str(tmp_path / "kl_store")
    step = kl_drift_step(store, ns=(1,))
    b0 = spark.createDataFrame(
        [(0, "x y x y"), (1, "x y z")], "doc_id long, text string"
    )
    assert step(b0, 0).collect() == []

    def py_kl(batch_counts, prior_counts):
        s_ = SEL.DEFAULT_SMOOTH
        vocab = set(batch_counts) | set(prior_counts)
        Tb, Tp, V = (
            sum(batch_counts.values()),
            sum(prior_counts.values()),
            len(vocab),
        )
        kl = 0.0
        for v in vocab:
            p = (batch_counts.get(v, 0) + s_) / (Tb + s_ * V)
            q = (prior_counts.get(v, 0) + s_) / (Tp + s_ * V)
            kl += p * math.log(p / q)
        return round(kl, 6)

    prior = {"x": 3, "y": 3, "z": 1}
    # same-mix batch: low drift
    b1 = spark.createDataFrame([(2, "x y z x y")], "doc_id long, text string")
    r1 = step(b1, 1).collect()
    assert [(r["n_grams"], r["kl_to_prior"]) for r in r1] == [
        (5, py_kl({"x": 2, "y": 2, "z": 1}, prior))
    ]
    assert r1[0]["kl_to_prior"] < 0.05
    # shifted batch (disjoint vocab): high drift vs prior = b0+b1
    prior2 = {"x": 5, "y": 5, "z": 2}
    b2 = spark.createDataFrame([(3, "p q p q p")], "doc_id long, text string")
    r2 = step(b2, 2).collect()
    want2 = py_kl({"p": 3, "q": 2}, prior2)
    assert [(r["n_grams"], r["kl_to_prior"]) for r in r2] == [(5, want2)]
    assert r2[0]["kl_to_prior"] > 1.0
    # replay: batch 2 re-run scores against the SAME prior state
    again = step(b2, 2).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in r2]


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_selection_auc_oracle_parity(spark, sf_dir):
    """The r12 registration candidate (parked-with-oracle discipline),
    parity-pinned NOW: queries.q_selection_auc — mid-rank ROC AUC of
    the 6dp DSIR log-weight retrieving the 13-stride seed — vs its
    full DuckDB oracle, hash-grade (n_docs/n_pos exact, auc equal at
    6dp; ties carry the analytic ½ credit so no id tie-break exists
    to diverge)."""
    import duckdb

    from willa_spark.queries import SELECTION_AUC_ORACLE, q_selection_auc

    got = [
        (r["n_docs"], r["n_pos"], r["auc"])
        for r in q_selection_auc(spark, sf_dir).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(SELECTION_AUC_ORACLE).fetchall()]
    assert len(got) == len(want) == 1
    assert got == want
    # sanity: the seed should rank clearly above the rest
    assert got[0][2] > 0.8


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_dsir_calibration_oracle_parity(spark, sf_dir):
    """The second r12 registration candidate, parity-pinned NOW:
    queries.q_dsir_calibration — reliability deciles of
    sigmoid(log_weight/10) against the 13-stride seed — vs its full
    DuckDB oracle, hash-grade (bins on the 6dp-rounded probability;
    mean_score via the integer-sum exact_decimals mode, unrounded —
    one IEEE division is bit-identical across engines where a rounded
    average diverged twice in pre-flight)."""
    import duckdb

    from willa_spark.queries import DSIR_CALIBRATION_ORACLE, q_dsir_calibration

    got = sorted(
        (r["bin"], r["n"], r["mean_score"], r["frac_pos"])
        for r in q_dsir_calibration(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(
        (r[0], r[1], r[2], r[3])
        for r in con.execute(DSIR_CALIBRATION_ORACLE).fetchall()
    )
    assert len(got) == len(want) > 0
    assert got == want
    # the squashed DSIR signal should be directionally calibrated:
    # the top occupied bin's frac_pos exceeds the bottom one's
    assert got[-1][3] > got[0][3]


def test_kl_profile_pins_group_gram_frame_once(spark, monkeypatch):
    """Every downstream frame of the profile derives from the
    (group, gram) counts, so that frame — and only it — is pinned,
    exactly once, with or without vocabulary truncation."""
    from willa_spark import pin as PIN

    rows = [
        (0, "a", "x y x y"),
        (1, "a", "x y y z"),
        (2, "b", "p q p q"),
        (3, "b", "p q z z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    calls = []

    def counting_pin(d, label, **kw):
        calls.append(d.columns)
        return PIN.pin(d, label, **kw)

    monkeypatch.setattr(SEL, "pin", counting_pin)
    for knobs in ({}, {"top_v": 3, "min_count": 1}):
        calls.clear()
        got = SEL.kl_divergence_profile(
            df, group_col="lang", ns=(1,), **knobs
        ).collect()
        assert sorted(r["lang"] for r in got) == ["a", "b"], knobs
        assert calls == [["__grp", "feature", "__cg"]], knobs


# ---------------------------------------------------------------- DoReMi
DOREMI_DOCS = [
    (0, "en", "the cat sat on the mat"),
    (1, "en", "the dog sat on the log"),
    (2, "en", "the cat ate the fish"),
    (3, "de", "der hund und die katze"),
    (4, "de", "die katze und der fisch"),
    (5, "xx", "zzz qqq vvv kkk www yyy"),  # vocabulary-disjoint junk
]


def _py_group_lp(rows, lam=0.8, alpha=1e-4, train_rows=None):
    """Shared exact pure-Python per-domain JM bigram statistics
    (self-trained unless ``train_rows`` passes a reference corpus):
    {group: (n_transitions, sum_lp, doc_id set)} — the one spelling
    of the tokenization/smoothing convention both the one-step and
    the trajectory differentials pin (r14 review: _py_traj had
    re-inlined it, so a convention edit could silently fork the two
    oracles)."""
    big, ctx, tgt = {}, {}, {}
    for _, _, t in train_rows if train_rows is not None else rows:
        toks = [w for w in t.lower().strip().split() if w]
        seq = ["<s>"] + toks + ["</s>"]
        for a, b in zip(seq, seq[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    for (a, b), c in big.items():
        ctx[a] = ctx.get(a, 0) + c
        tgt[b] = tgt.get(b, 0) + c
    T = float(sum(big.values()))
    V = float(len({b for _, b in big}))
    per = {}
    for i, g, t in rows:
        toks = [w for w in t.lower().strip().split() if w]
        seq = ["<s>"] + toks + ["</s>"]
        for a, b in zip(seq, seq[1:]):
            p_uni = (tgt.get(b, 0) + alpha) / (T + alpha * (V + 1.0))
            p_big = big.get((a, b), 0) / ctx[a] if ctx.get(a) else 0.0
            lp = math.log(lam * p_big + (1 - lam) * p_uni)
            n, s, d = per.get(g, (0, 0.0, set()))
            per[g] = (n + 1, s + lp, d | {i})
    return per


def _py_doremi(rows, eta=1.0, lam=0.8, alpha=1e-4, train_rows=None):
    """Exact pure-Python one-step DoReMi over the JM bigram LM
    (self-trained unless ``train_rows`` passes a reference corpus) —
    the differential the Spark plan must match."""
    per = _py_group_lp(rows, lam=lam, alpha=alpha, train_rows=train_rows)
    N = sum(n for n, _, _ in per.values())
    ce_all = sum(-s for _, s, _ in per.values()) / N
    raw = {
        g: (n / N) * math.exp(eta * ((-s / n) - ce_all))
        for g, (n, s, _) in per.items()
    }
    Z = sum(raw.values())
    return {
        g: (
            len(per[g][2]),
            per[g][0],
            round(per[g][0] / N, 6),
            round(-per[g][1] / per[g][0], 6),
            round(raw[g] / Z, 6),
        )
        for g in per
    }


def test_domain_mixture_weights_python_differential(spark):
    """One DoReMi Group-DRO step vs exact pure-Python arithmetic
    (default self-trained reference): n_docs / n_transitions / share
    / token-weighted ce / normalized tilted weight all match at 6dp;
    weights sum to 1."""
    df = spark.createDataFrame(
        DOREMI_DOCS, "doc_id long, lang string, text string"
    )
    got = {
        r["lang"]: (
            r["n_docs"],
            r["n_transitions"],
            r["share"],
            r["ce"],
            r["weight"],
        )
        for r in SEL.domain_mixture_weights(df).collect()
    }
    want = _py_doremi(DOREMI_DOCS)
    assert set(got) == set(want)
    for g in want:
        assert got[g][0] == want[g][0], g
        assert got[g][1] == want[g][1], g
        for i in (2, 3, 4):
            assert got[g][i] == pytest.approx(want[g][i], abs=2e-6), (g, i)
    assert sum(v[4] for v in got.values()) == pytest.approx(1.0, abs=5e-6)


def test_domain_mixture_weights_reference_model_direction(spark):
    """The production shape AND DoReMi's core move: under a reference
    model trained on the en+de baseline, the vocabulary-disjoint xx
    domain has the highest excess loss and gets UPWEIGHTED relative
    to its share, while the easy in-vocabulary majority domain is
    downweighted; values still match pure Python at 6dp. (A
    SELF-trained reference would score xx's unique count-1 bigrams
    as EASY — λ·c12/c_ctx = λ — which is exactly why DoReMi trains
    the reference on the baseline mixture, not the domain itself.)"""
    from willa_spark.functions import lm as LM

    df = spark.createDataFrame(
        DOREMI_DOCS, "doc_id long, lang string, text string"
    )
    ref_rows = [r for r in DOREMI_DOCS if r[1] in ("en", "de")]
    model = LM.bigram_lm_train(
        df.filter(F.col("lang") != "xx").select("doc_id", "text")
    )
    got = {
        r["lang"]: (r["share"], r["ce"], r["weight"])
        for r in SEL.domain_mixture_weights(df, model=model).collect()
    }
    want = _py_doremi(DOREMI_DOCS, train_rows=ref_rows)
    for g in want:
        for i, j in ((0, 2), (1, 3), (2, 4)):
            assert got[g][i] == pytest.approx(want[g][j], abs=2e-6), g
    assert got["xx"][1] > max(got["en"][1], got["de"][1])  # hardest
    assert got["xx"][2] > got["xx"][0]  # upweighted
    assert got["en"][2] < got["en"][0]  # easy majority downweighted


def test_domain_mixture_weights_eta_zero_returns_shares(spark):
    """η=0 — no tilt: every weight equals the baseline share exactly
    (the DRO step size's null case, pinned so η's sign/scale can
    never silently invert)."""
    df = spark.createDataFrame(
        DOREMI_DOCS, "doc_id long, lang string, text string"
    )
    for r in SEL.domain_mixture_weights(df, eta=0.0).collect():
        assert r["weight"] == pytest.approx(r["share"], abs=1e-6)


def test_domain_mixture_weights_null_group_fails_loud(spark):
    """The kl_divergence_profile convention carried over: a NULL
    domain label raises in-plan rather than pooling unlabeled docs
    into a phantom domain."""
    df = spark.createDataFrame(
        [(0, None, "the cat")], "doc_id long, lang string, text string"
    )
    with pytest.raises(Exception, match="NULL lang"):
        SEL.domain_mixture_weights(df).collect()


def test_bigram_group_cross_entropy_is_token_weighted(spark):
    """ce_g is the GROUP's corpus loss (Σ lp / Σ n), not a mean of
    per-doc means: a group of one long + one short doc must match
    the token-weighted value, which differs from the doc-mean when
    doc losses differ."""
    from willa_spark.functions import lm as LM

    rows = [(0, "a", "the cat sat on the mat"), (1, "a", "zzz qqq")]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    model = LM.bigram_lm_train(df.select("doc_id", "text"))
    got = SEL.domain_mixture_weights(df).collect()  # smoke: composes
    per = {
        r["lang"]: (r["n_docs"], r["n_transitions"], r["ce"])
        for r in LM.bigram_group_cross_entropy(df, model).collect()
    }
    docs = {
        r["doc_id"]: (r["n_transitions"], r["ppl"])
        for r in LM.bigram_perplexity(df.select("doc_id", "text"), model).collect()
    }
    n_tot = sum(n for n, _ in docs.values())
    # token-weighted identity: ce = Σ n_d·ln(ppl_d) / Σ n_d
    want = sum(n * math.log(p) for n, p in docs.values()) / n_tot
    assert per["a"][0] == 2 and per["a"][1] == n_tot
    assert per["a"][2] == pytest.approx(want, rel=1e-9)
    doc_mean = statistics.mean(math.log(p) for _, p in docs.values())
    assert abs(want - doc_mean) > 1e-3  # the two conventions differ here


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_domain_mixture_oracle_parity(spark, sf_dir):
    """The r14 registration candidate (parked-with-oracle
    discipline), parity-pinned NOW: queries.q_domain_mixture_weights
    — one DoReMi Group-DRO step per lang — vs its full DuckDB
    oracle, hash-grade (counts exact; share/ce/weight equal at
    6dp), plus the simplex invariant."""
    import duckdb

    from willa_spark.queries import (
        DOMAIN_MIXTURE_ORACLE,
        q_domain_mixture_weights,
    )

    got = sorted(
        (r["lang"], r["n_docs"], r["n_transitions"], r["share"], r["ce"], r["weight"])
        for r in q_domain_mixture_weights(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(DOMAIN_MIXTURE_ORACLE).fetchall())
    assert len(got) == len(want) > 0
    assert got == want
    assert sum(r[5] for r in got) == pytest.approx(1.0, abs=5e-6)


from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

_dm_words = st.sampled_from(["the", "cat", "dog", "sat", "ran", "on", "mat", "a"])
_dm_rows = st.lists(
    st.tuples(
        st.sampled_from(["en", "de", "xx"]),
        st.lists(_dm_words, min_size=0, max_size=6).map(" ".join),
    ),
    min_size=1,
    max_size=8,
)


@given(rows=_dm_rows, eta=st.sampled_from([0.0, 0.5, 1.0, 2.0]))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_domain_mixture_hypothesis_differential(spark, rows, eta):
    """Hypothesis: for ANY small labeled corpus (empty docs, repeated
    texts, 1-3 domains, domains of only-empty docs) and ANY step size
    η, the one-step DoReMi frame equals the exact pure-Python
    computation — counts exact, share/ce/weight at 6dp, weights on
    the simplex. (Empty docs still carry the boundary transition, so
    every labeled domain profiles; the phantom-domain NULL guard and
    empty-model guard are separately pinned.)"""
    labeled = [(i, g, t) for i, (g, t) in enumerate(rows)]
    df = spark.createDataFrame(labeled, "doc_id long, lang string, text string")
    got = {
        r["lang"]: (r["n_docs"], r["n_transitions"], r["share"], r["ce"], r["weight"])
        for r in SEL.domain_mixture_weights(df, eta=eta).collect()
    }
    want = _py_doremi(labeled, eta=eta)
    assert set(got) == set(want)
    for g in want:
        assert got[g][0] == want[g][0], (g, "n_docs")
        assert got[g][1] == want[g][1], (g, "n_transitions")
        for i in (2, 3, 4):
            assert got[g][i] == pytest.approx(want[g][i], abs=2e-6), (g, i)
    assert sum(v[4] for v in got.values()) == pytest.approx(1.0, abs=5e-6)


def test_domain_mixture_step_congruity_and_replay(spark, tmp_path):
    """The streaming mixture monitor ≡ the batch operator over the
    running union, under one frozen reference model: after ingesting
    batches 0..k (including a batch covering only ONE domain), the
    emitted frame equals domain_mixture_weights(union, model=frozen)
    row-for-row at the 6dp contract; batch 0 emits (a mixture needs
    no prior); a replayed batch returns identical rows and leaves the
    store uncorrupted; duplicate ids in one micro-batch fail loud
    BEFORE anything persists."""
    from willa_spark.functions import lm as LM
    from willa_spark.streaming.selection import domain_mixture_step

    rows = DOREMI_DOCS + [
        (6, "de", "der hund sitzt auf der matte"),
        (7, "xx", "qqq zzz www kkk"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    ref = LM.bigram_lm_train(
        df.filter(F.col("lang") != "xx").select("doc_id", "text")
    ).localCheckpoint(eager=True)
    batches = [
        [0, 3, 5],  # all three domains
        [1, 4],     # en + de only
        [6, 7],     # late arrivals
        [2],        # single-domain batch
    ]
    step = domain_mixture_step(
        ref, str(tmp_path / "dm"), group_col="lang", eta=1.0
    )
    seen: list[int] = []
    key = lambda r: (r["lang"], r["n_docs"], r["n_transitions"], r["share"], r["ce"], r["weight"])
    for bid, ids in enumerate(batches):
        seen += ids
        got = sorted(
            key(r)
            for r in step(df.filter(F.col("doc_id").isin(ids)), bid).collect()
        )
        want = sorted(
            key(r)
            for r in SEL.domain_mixture_weights(
                df.filter(F.col("doc_id").isin(seen)),
                model=ref,
            ).collect()
        )
        assert [g[:3] for g in got] == [w[:3] for w in want], bid
        for g, w in zip(got, want):
            for i in (3, 4, 5):
                assert g[i] == pytest.approx(w[i], abs=2e-6), (bid, g[0], i)
    # replay: batch 2 re-delivered — identical rows, store intact
    replay = sorted(
        key(r)
        for r in step(
            df.filter(F.col("doc_id").isin(batches[2])), 2
        ).collect()
    )
    after2 = seen[: sum(len(b) for b in batches[:3])]
    want2 = sorted(
        key(r)
        for r in SEL.domain_mixture_weights(
            df.filter(F.col("doc_id").isin(after2)), model=ref
        ).collect()
    )
    assert [g[:3] for g in replay] == [w[:3] for w in want2]
    # and the NEXT batch still sees an uncorrupted cumulative state
    got4 = sorted(
        key(r) for r in step(df.limit(0), 4).collect()
    )
    want4 = sorted(
        key(r)
        for r in SEL.domain_mixture_weights(df, model=ref).collect()
    )
    assert [g[:3] for g in got4] == [w[:3] for w in want4]
    # duplicate ids fail loud before persisting
    dup = df.filter(F.col("doc_id").isin([0])).unionByName(
        df.filter(F.col("doc_id").isin([0]))
    )
    with pytest.raises(ValueError, match="duplicate doc_id"):
        step(dup, 5)


def test_domain_mixture_kn_scorer(spark):
    """scorer="kn" runs the mixture step under interpolated
    Kneser-Ney — each domain's ce must equal the token-weighted mean
    of the per-doc KN log-perplexities (the identity that needs no
    second python oracle), the weights stay on the simplex, and
    cross-scorer knobs fail loud (the lm.py rule)."""
    import math as _m

    from willa_spark.functions import lm as LM

    df = spark.createDataFrame(
        DOREMI_DOCS, "doc_id long, lang string, text string"
    )
    model = LM.bigram_lm_train(df.select("doc_id", "text")).localCheckpoint(
        eager=True
    )
    got = {
        r["lang"]: (r["n_transitions"], r["ce"], r["weight"])
        for r in SEL.domain_mixture_weights(
            df, model=model, scorer="kn"
        ).collect()
    }
    docs = {
        r["doc_id"]: (r["n_transitions"], r["ppl"])
        for r in LM.kn_bigram_perplexity(
            df.select("doc_id", "text"), model
        ).collect()
    }
    by_lang = {}
    for (i, g, _t) in DOREMI_DOCS:
        n, p = docs[i]
        cn, cs = by_lang.get(g, (0, 0.0))
        by_lang[g] = (cn + n, cs + n * _m.log(p))
    for g, (n, s) in by_lang.items():
        assert got[g][0] == n, g
        assert got[g][1] == pytest.approx(round(s / n, 6), abs=2e-6), g
    assert sum(v[2] for v in got.values()) == pytest.approx(1.0, abs=5e-6)
    with pytest.raises(ValueError, match="Jelinek-Mercer knob"):
        SEL.domain_mixture_weights(
            df, model=model, scorer="kn", lam=0.5
        )
    with pytest.raises(ValueError, match="Kneser-Ney knob"):
        SEL.domain_mixture_weights(df, discount=0.7)


def test_domain_mixture_step_kn_congruity(spark, tmp_path):
    """The streaming monitor under scorer="kn" stays congruent with
    the batch operator over the running union (one frozen KN
    reference), and rejects cross-scorer knobs at construction."""
    from willa_spark.functions import lm as LM
    from willa_spark.streaming.selection import domain_mixture_step

    df = spark.createDataFrame(
        DOREMI_DOCS, "doc_id long, lang string, text string"
    )
    ref = LM.bigram_lm_train(df.select("doc_id", "text")).localCheckpoint(
        eager=True
    )
    step = domain_mixture_step(
        ref, str(tmp_path / "dmkn"), eta=1.0, scorer="kn"
    )
    key = lambda r: (r["lang"], r["n_docs"], r["n_transitions"], r["share"], r["ce"], r["weight"])
    seen = []
    for bid, ids in enumerate(([0, 3, 5], [1, 2, 4])):
        seen += ids
        got = sorted(
            key(r)
            for r in step(df.filter(F.col("doc_id").isin(ids)), bid).collect()
        )
        want = sorted(
            key(r)
            for r in SEL.domain_mixture_weights(
                df.filter(F.col("doc_id").isin(seen)),
                model=ref,
                scorer="kn",
            ).collect()
        )
        assert [g[:3] for g in got] == [w[:3] for w in want], bid
        for g, w in zip(got, want):
            for i in (3, 4, 5):
                assert g[i] == pytest.approx(w[i], abs=2e-6), (bid, g[0], i)
    with pytest.raises(ValueError, match="Jelinek-Mercer knob"):
        domain_mixture_step(ref, str(tmp_path / "bad"), scorer="kn", lam=0.5)


def test_domain_mixture_step_batch0_empty_frame_keeps_group_type(spark, tmp_path):
    """A batch-0 EMPTY micro-batch emits an empty frame whose group
    column keeps the BATCH schema's type (r13 review: the empty frame
    hardcoded `string`, so an integer domain id disagreed with every
    later emission, breaking sinks that union the stream's output) —
    pinned here with a bigint group column end-to-end: batch 0 empty,
    batch 1 real, schemas equal, unionByName round-trips."""
    from willa_spark.functions import lm as LM
    from willa_spark.streaming.selection import domain_mixture_step

    rows = [(i, i % 2, t) for i, (_, _, t) in enumerate(DOREMI_DOCS)]
    df = spark.createDataFrame(
        rows, "doc_id long, domain_id long, text string"
    )
    ref = LM.bigram_lm_train(df.select("doc_id", "text")).localCheckpoint(
        eager=True
    )
    step = domain_mixture_step(
        ref, str(tmp_path / "dmint"), group_col="domain_id", eta=1.0
    )
    empty = step(df.limit(0), 0)
    assert empty.count() == 0
    real = step(df, 1)
    assert [(f.name, f.dataType) for f in empty.schema] == [
        (f.name, f.dataType) for f in real.schema
    ]
    assert empty.unionByName(real).count() == real.count()
    assert dict(empty.dtypes)["domain_id"] == "bigint"


def _py_traj(rows, eta=1.0, steps=6, lam=0.8, alpha=1e-4, train_rows=None):
    """Exact pure-Python bounded Group-DRO trajectory (the SHARED
    _py_group_lp per-domain stats + the exponentiated-gradient
    iteration) — the differential domain_mixture_trajectory must
    match."""
    per = _py_group_lp(rows, lam=lam, alpha=alpha, train_rows=train_rows)
    groups = sorted(per)
    ce = {g: -per[g][1] / per[g][0] for g in groups}
    N = float(sum(per[g][0] for g in groups))
    w = {g: per[g][0] / N for g in groups}
    out = {}
    for t in range(1, steps + 1):
        ce_mix = sum(w[g] * ce[g] for g in groups)
        raw = {g: w[g] * math.exp(eta * (ce[g] - ce_mix)) for g in groups}
        z = sum(raw.values())
        w = {g: raw[g] / z for g in groups}
        out.update(
            {(t, g): (round(ce_mix, 6), round(w[g], 6)) for g in groups}
        )
    return out


def test_domain_mixture_trajectory_python_differential(spark):
    """The bounded fixed-point trajectory vs exact pure-Python
    arithmetic: every (step, group) cell's ce_mix and weight match at
    6dp across 6 steps; each step's weights sum to 1; ce_mix is
    constant within a step."""
    df = spark.createDataFrame(
        DOREMI_DOCS, "doc_id long, lang string, text string"
    )
    collected = SEL.domain_mixture_trajectory(df, steps=6).collect()
    got = {
        (r["step"], r["lang"]): (r["ce_mix"], r["weight"]) for r in collected
    }
    want = _py_traj(DOREMI_DOCS, steps=6)
    # row count BEFORE keying into a dict: duplicated (step, group)
    # rows would dedup silently (r14 review)
    assert len(collected) == len(want)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == pytest.approx(want[k][0], abs=2e-6), k
        assert got[k][1] == pytest.approx(want[k][1], abs=2e-6), k
    for t in range(1, 7):
        step_w = [v[1] for (s, _), v in got.items() if s == t]
        assert sum(step_w) == pytest.approx(1.0, abs=5e-6), t
        step_m = {v[0] for (s, _), v in got.items() if s == t}
        assert len(step_m) == 1, t


def test_domain_mixture_trajectory_step1_is_the_one_step_row(spark):
    """Step 1 of the trajectory coincides with the registered
    domain_mixture_weights row at the 6dp contract (at w_0 = share
    the mixture loss IS the token-weighted corpus ce — the operand
    orders differ in IEEE, so approx, never exact)."""
    df = spark.createDataFrame(
        DOREMI_DOCS, "doc_id long, lang string, text string"
    )
    one = {
        r["lang"]: r["weight"]
        for r in SEL.domain_mixture_weights(df, eta=1.0).collect()
    }
    traj = {
        r["lang"]: r["weight"]
        for r in SEL.domain_mixture_trajectory(df, eta=1.0, steps=1).collect()
    }
    assert set(one) == set(traj)
    for g in one:
        assert traj[g] == pytest.approx(one[g], abs=2e-6), g


def test_domain_mixture_trajectory_converges_to_hardest(spark):
    """The convergence arithmetic this row exists to pin: under a
    reference model trained on the en+de baseline, the
    vocabulary-disjoint xx domain (highest excess loss) gains mass
    monotonically across steps — strictly until it saturates at the
    6dp grain (its excess loss is so large that η=1 would pin it to
    1.0 by step 2, so a gentle η keeps the trajectory informative) —
    while the easy majority drains; with η=0 every step returns the
    baseline shares unchanged."""
    from willa_spark.functions import lm as LM

    df = spark.createDataFrame(
        DOREMI_DOCS, "doc_id long, lang string, text string"
    )
    model = LM.bigram_lm_train(
        df.filter(F.col("lang") != "xx").select("doc_id", "text")
    ).localCheckpoint(eager=True)
    rows = SEL.domain_mixture_trajectory(
        df, model=model, eta=0.05, steps=6
    ).collect()
    xx = [r["weight"] for r in sorted(rows, key=lambda r: r["step"]) if r["lang"] == "xx"]
    en = [r["weight"] for r in sorted(rows, key=lambda r: r["step"]) if r["lang"] == "en"]
    assert all(a < b for a, b in zip(xx, xx[1:])), xx
    assert all(a > b for a, b in zip(en, en[1:])), en
    flat = SEL.domain_mixture_trajectory(df, eta=0.0, steps=3).collect()
    share = {
        r["lang"]: r["share"]
        for r in SEL.domain_mixture_weights(df, eta=0.0).collect()
    }
    for r in flat:
        assert r["weight"] == pytest.approx(share[r["lang"]], abs=2e-6), r


def test_domain_mixture_trajectory_guards(spark):
    """steps < 1, a corpus-scale group column (max_groups), NULL
    groups, and cross-scorer knobs all fail loud — nothing degrades
    to a silent no-op."""
    df = spark.createDataFrame(
        DOREMI_DOCS, "doc_id long, lang string, text string"
    )
    with pytest.raises(ValueError, match="at least one step"):
        SEL.domain_mixture_trajectory(df, steps=0)
    with pytest.raises(ValueError, match="more than 2 distinct"):
        SEL.domain_mixture_trajectory(df, max_groups=2)
    with pytest.raises(Exception, match="NULL lang"):
        SEL.domain_mixture_trajectory(
            spark.createDataFrame(
                [(0, None, "the cat")], "doc_id long, lang string, text string"
            )
        ).collect()
    with pytest.raises(ValueError, match="Jelinek-Mercer knob"):
        SEL.domain_mixture_trajectory(df, scorer="kn", lam=0.5)


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_domain_mixture_trajectory_oracle_parity(spark, sf_dir):
    """The r15 registration candidate (parked-with-oracle
    discipline), parity-pinned NOW: queries.q_domain_mixture_trajectory
    vs its generated unrolled-CTE DuckDB oracle — every (step, lang)
    cell at the 6dp contract, simplex per step."""
    import duckdb

    from willa_spark.queries import (
        DOMAIN_MIXTURE_TRAJ_ORACLE,
        q_domain_mixture_trajectory,
    )

    got = {
        (r["step"], r["lang"]): (r["ce_mix"], r["weight"])
        for r in q_domain_mixture_trajectory(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = {
        (s, g): (m, w)
        for s, g, m, w in con.execute(DOMAIN_MIXTURE_TRAJ_ORACLE).fetchall()
    }
    assert set(got) == set(want) and len(got) > 0
    for k in want:
        assert got[k][0] == pytest.approx(want[k][0], abs=2e-6), k
        assert got[k][1] == pytest.approx(want[k][1], abs=2e-6), k
    for t in {s for s, _ in got}:
        assert sum(v[1] for (s, _), v in got.items() if s == t) == pytest.approx(
            1.0, abs=5e-6
        ), t


def test_domain_mixture_trajectory_step_congruity_and_replay(spark, tmp_path):
    """The streaming trajectory monitor ≡ the batch trajectory over
    the running union under one frozen reference model (EXACT by
    construction: the shared additive store + the shared
    mixture_trajectory_from_stats tail): after batches 0..k every
    (step, group) cell matches at the 6dp contract; a replayed batch
    returns identical rows and leaves the store uncorrupted; batch-0
    empty emits the trajectory schema with the batch group type; a
    zero-steps construction fails loud before any batch."""
    from willa_spark.functions import lm as LM
    from willa_spark.streaming.selection import domain_mixture_trajectory_step

    rows = DOREMI_DOCS + [(6, "de", "der hund sitzt auf der matte")]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    ref = LM.bigram_lm_train(df.select("doc_id", "text")).localCheckpoint(
        eager=True
    )
    with pytest.raises(ValueError, match="at least one step"):
        domain_mixture_trajectory_step(ref, str(tmp_path / "z"), steps=0)
    step = domain_mixture_trajectory_step(
        ref, str(tmp_path / "dmt"), group_col="lang", eta=1.0, steps=4
    )
    # batch-0 EMPTY micro-batch: trajectory schema, batch group type
    empty = step(df.limit(0), 0)
    assert empty.count() == 0
    assert [f.name for f in empty.schema] == ["step", "lang", "ce_mix", "weight"]
    assert dict(empty.dtypes)["lang"] == "string"
    key = lambda r: (r["step"], r["lang"])
    seen: list[int] = []
    batches = [[0, 3], [1, 4, 5], [2, 6]]
    for bid, ids in enumerate(batches, start=1):
        seen += ids
        got = {
            key(r): (r["ce_mix"], r["weight"])
            for r in step(df.filter(F.col("doc_id").isin(ids)), bid).collect()
        }
        want = {
            key(r): (r["ce_mix"], r["weight"])
            for r in SEL.domain_mixture_trajectory(
                df.filter(F.col("doc_id").isin(seen)),
                model=ref,
                eta=1.0,
                steps=4,
            ).collect()
        }
        assert set(got) == set(want), bid
        for k in want:
            assert got[k][0] == pytest.approx(want[k][0], abs=2e-6), (bid, k)
            assert got[k][1] == pytest.approx(want[k][1], abs=2e-6), (bid, k)
    # replay batch 2: identical rows, store intact for the next batch
    replay = {
        key(r): r["weight"]
        for r in step(df.filter(F.col("doc_id").isin(batches[1])), 2).collect()
    }
    after2 = [i for b in batches[:2] for i in b]
    want2 = {
        key(r): r["weight"]
        for r in SEL.domain_mixture_trajectory(
            df.filter(F.col("doc_id").isin(after2)),
            model=ref,
            eta=1.0,
            steps=4,
        ).collect()
    }
    assert set(replay) == set(want2)
    for k in want2:
        assert replay[k] == pytest.approx(want2[k], abs=2e-6), k
    # duplicate ids fail loud, named by the right step
    dup = df.filter(F.col("doc_id") == 0).unionByName(
        df.filter(F.col("doc_id") == 0)
    )
    with pytest.raises(ValueError, match="domain_mixture_trajectory_step.*duplicate"):
        step(dup, 9)


def test_domain_mixture_trajectory_step_guard_names_the_step(spark, tmp_path):
    """The max_groups guard firing inside the streaming monitor names
    the STEP (whose knob the operator can actually turn), not the
    batch function they never called (r14 review)."""
    from willa_spark.functions import lm as LM
    from willa_spark.streaming.selection import domain_mixture_trajectory_step

    df = spark.createDataFrame(
        DOREMI_DOCS, "doc_id long, lang string, text string"
    )
    ref = LM.bigram_lm_train(df.select("doc_id", "text")).localCheckpoint(
        eager=True
    )
    step = domain_mixture_trajectory_step(
        ref, str(tmp_path / "dmg"), group_col="lang", max_groups=1
    )
    with pytest.raises(
        ValueError, match=r"domain_mixture_trajectory_step: more than 1"
    ):
        step(df, 0)


@given(
    rows=_dm_rows,
    eta=st.sampled_from([0.0, 0.5, 1.0, 2.0]),
    steps=st.sampled_from([1, 3, 5]),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_domain_mixture_trajectory_hypothesis_differential(
    spark, rows, eta, steps
):
    """Hypothesis: for ANY small labeled corpus (empty docs, repeated
    texts, 1-3 domains), ANY step size η, and ANY bounded K, the
    trajectory equals the exact pure-Python iteration cell-for-cell
    at 6dp and every step's weights stay on the simplex — the K-step
    generalization of the one-step Hypothesis pin above, sharing its
    strategies and the _py_group_lp stats."""
    labeled = [(i, g, t) for i, (g, t) in enumerate(rows)]
    df = spark.createDataFrame(labeled, "doc_id long, lang string, text string")
    collected = SEL.domain_mixture_trajectory(df, eta=eta, steps=steps).collect()
    got = {
        (r["step"], r["lang"]): (r["ce_mix"], r["weight"]) for r in collected
    }
    want = _py_traj(labeled, eta=eta, steps=steps)
    # row count BEFORE keying into a dict: duplicated (step, group)
    # rows would dedup silently (r14 review)
    assert len(collected) == len(want)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == pytest.approx(want[k][0], abs=2e-6), k
        assert got[k][1] == pytest.approx(want[k][1], abs=2e-6), k
    for t in range(1, steps + 1):
        assert sum(v[1] for (s, _), v in got.items() if s == t) == pytest.approx(
            1.0, abs=5e-6
        ), t
