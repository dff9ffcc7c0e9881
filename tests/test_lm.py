"""Sequential bigram LM (functions/lm.py): exact Python differential
for train + perplexity, the sentinel/empty-doc contract, unseen
context/target smoothing, order sensitivity (the property the bag
family cannot have), and the frozen-model streaming congruity."""

import math

import pytest
from pyspark.sql import functions as F

from willa_spark.functions import lm as LM


def _py_model(texts):
    big = {}
    for t in texts:
        toks = [w for w in t.lower().strip().split() if w]
        seq = [LM.BOS] + toks + [LM.EOS]
        for a, b in zip(seq, seq[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    ctx, tgt = {}, {}
    for (a, b), c in big.items():
        ctx[a] = ctx.get(a, 0) + c
        tgt[b] = tgt.get(b, 0) + c
    return big, ctx, tgt


def _py_ppl(text, big, ctx, tgt, lam=LM.DEFAULT_LAMBDA, alpha=LM.DEFAULT_ALPHA):
    T = float(sum(big.values()))
    V = float(len({b for _, b in big}))
    toks = [w for w in text.lower().strip().split() if w]
    seq = [LM.BOS] + toks + [LM.EOS]
    lps = []
    for a, b in zip(seq, seq[1:]):
        p_uni = (tgt.get(b, 0) + alpha) / (T + alpha * (V + 1.0))
        p_big = big.get((a, b), 0) / ctx[a] if ctx.get(a) else 0.0
        lps.append(math.log(lam * p_big + (1 - lam) * p_uni))
    return len(lps), math.exp(-sum(lps) / len(lps))


TRAIN = [
    "the cat sat on the mat",
    "the dog sat on the log",
    "a cat and a dog",
    "the cat ate the fish",
]


def test_bigram_lm_python_differential(spark):
    """Model counts and per-doc perplexity equal the exact pure-Python
    computation on every training doc (seen data) AND on held-out
    docs with unseen bigrams, contexts, and words."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRAIN)], "doc_id long, text string"
    )
    model = LM.bigram_lm_train(df)
    big, ctx, tgt = _py_model(TRAIN)
    got_counts = {
        (r["w1"], r["w2"]): (r["c12"], r["c_ctx"], r["c_tgt"])
        for r in model.collect()
    }
    assert {k: v[0] for k, v in got_counts.items()} == big
    for (a, b), (_, ca, cb) in got_counts.items():
        assert ca == ctx[a] and cb == tgt[b]

    held = TRAIN + [
        "the cat sat quietly",      # unseen bigram + unseen word
        "zebra jumps over fences",  # every context unseen
        "mat the on sat cat the",   # reversed word order
    ]
    hdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(held)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_transitions"], r["ppl"])
        for r in LM.bigram_perplexity(hdf, model).collect()
    }
    for i, t in enumerate(held):
        n, ppl = _py_ppl(t, big, ctx, tgt)
        assert got[i][0] == n
        assert got[i][1] == pytest.approx(ppl, rel=1e-12), t


def test_bigram_lm_order_sensitivity(spark):
    """The property the bag-of-grams family cannot have: a doc with
    the SAME token multiset in training order scores strictly lower
    perplexity than its reversal."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRAIN)], "doc_id long, text string"
    )
    model = LM.bigram_lm_train(df)
    probe = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "mat the on sat cat the")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["ppl"] for r in LM.bigram_perplexity(probe, model).collect()}
    assert got[0] < got[1] / 2


def test_bigram_lm_empty_doc_boundary_transition(spark):
    """An empty / all-whitespace doc emits exactly the (<s>,</s>)
    boundary transition — one row, n_transitions=1, matching the
    pure-Python value; the transition array itself is pinned."""
    df = spark.createDataFrame(
        [(0, "the cat"), (1, ""), (2, "   ")], "doc_id long, text string"
    )
    arr = {
        r["doc_id"]: [(p["w1"], p["w2"]) for p in r["p"]]
        for r in df.select(
            "doc_id", LM.transition_pairs(F.col("text")).alias("p")
        ).collect()
    }
    assert arr[0] == [(LM.BOS, "the"), ("the", "cat"), ("cat", LM.EOS)]
    assert arr[1] == arr[2] == [(LM.BOS, LM.EOS)]

    model = LM.bigram_lm_train(df)
    big, ctx, tgt = _py_model(["the cat", "", "   "])
    got = {
        r["doc_id"]: (r["n_transitions"], r["ppl"])
        for r in LM.bigram_perplexity(df, model).collect()
    }
    assert got[1] == got[2]
    n, ppl = _py_ppl("", big, ctx, tgt)
    assert got[1][0] == n == 1
    assert got[1][1] == pytest.approx(ppl, rel=1e-12)


def test_bigram_lm_training_corpus_ranks_below_junk(spark):
    """The quality-signal direction CCNet relies on: training-corpus
    docs score lower perplexity than shuffled-vocabulary junk."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRAIN)], "doc_id long, text string"
    )
    model = LM.bigram_lm_train(df)
    probe = spark.createDataFrame(
        [(0, TRAIN[0]), (1, "fish log a on ate and the dog")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["ppl"] for r in LM.bigram_perplexity(probe, model).collect()}
    assert got[0] < got[1]


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_lm_perplexity_oracle_parity(spark, sf_dir):
    """The r13 registration candidate (parked-with-oracle discipline),
    parity-pinned NOW: queries.q_lm_perplexity — per-doc conditional
    perplexity under the corpus's own bigram LM — vs its full DuckDB
    oracle, hash-grade (n_transitions exact, ppl equal at 6dp)."""
    import duckdb

    from willa_spark.queries import LM_PERPLEXITY_ORACLE, q_lm_perplexity

    got = sorted(
        (r["doc_id"], r["n_transitions"], r["ppl"])
        for r in q_lm_perplexity(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(LM_PERPLEXITY_ORACLE).fetchall()
    )
    assert len(got) == len(want) > 0
    assert got == want
    # direction sanity: the corpus's own docs sit at sane perplexity
    assert all(1.0 < p < 1e6 for _, _, p in got)


def test_lm_perplexity_step_congruity(spark):
    """lm_perplexity_step (frozen model, stateless per batch) scores
    split batches identically to the batch kernel over the union —
    streaming ≡ batch bit-for-bit — and max_ppl admission keeps
    exactly the under-threshold docs."""
    from willa_spark.streaming.selection import lm_perplexity_step

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRAIN + ["zebra jumps over fences"])],
        "doc_id long, text string",
    )
    model = LM.bigram_lm_train(
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(TRAIN)], "doc_id long, text string"
        )
    )
    batch = {
        r["doc_id"]: (r["n_transitions"], r["ppl"])
        for r in LM.bigram_perplexity(df, model).collect()
    }
    step = lm_perplexity_step(model)
    got = {
        r["doc_id"]: (r["n_transitions"], r["ppl"])
        for m in (0, 1)
        for r in step(df.filter(F.col("doc_id") % 2 == m), m).collect()
    }
    assert got == batch
    # replay idempotence: the same batch re-run scores identically
    again = {
        r["doc_id"]: (r["n_transitions"], r["ppl"])
        for r in step(df.filter(F.col("doc_id") % 2 == 0), 0).collect()
    }
    assert again == {k: v for k, v in got.items() if k % 2 == 0}
    # admission: the junk doc's ppl is the max — cut just below it
    cut = sorted(p for _, p in batch.values())[-1] - 1e-9
    kept = {
        r["doc_id"]
        for m in (0, 1)
        for r in lm_perplexity_step(model, max_ppl=cut)(
            df.filter(F.col("doc_id") % 2 == m), m
        ).collect()
    }
    assert kept == set(range(len(TRAIN)))


def test_bigram_lm_null_text_fails_loud(spark):
    """NULL text raises in-plan from BOTH train and scoring (r12
    review: split(NULL) previously nulled the transition array and
    the explode silently dropped the doc from model counts and from
    the scored/admitted stream)."""
    good = spark.createDataFrame([(0, "the cat")], "doc_id long, text string")
    bad = spark.createDataFrame(
        [(0, "the cat"), (1, None)], "doc_id long, text string"
    )
    model = LM.bigram_lm_train(good)
    with pytest.raises(Exception, match="NULL text"):
        LM.bigram_lm_train(bad).collect()
    with pytest.raises(Exception, match="NULL text"):
        LM.bigram_perplexity(bad, model).collect()


def _py_kn_ppl(text, big, alpha=LM.DEFAULT_ALPHA, discount=None):
    NT = float(len(big))
    V = float(len({b for _, b in big}))
    n1 = float(sum(1 for c in big.values() if c == 1))
    n2 = float(sum(1 for c in big.values() if c == 2))
    D = discount if discount is not None else (
        n1 / (n1 + 2.0 * n2) if n1 + 2.0 * n2 > 0 else 0.5)
    ctx, types, n1p = {}, {}, {}
    for (a, b), c in big.items():
        ctx[a] = ctx.get(a, 0) + c
        types[a] = types.get(a, 0) + 1
        n1p[b] = n1p.get(b, 0) + 1

    def pcont(b):
        return (n1p.get(b, 0) + alpha) / (NT + alpha * (V + 1.0))

    toks = [w for w in text.lower().strip().split() if w]
    seq = [LM.BOS] + toks + [LM.EOS]
    lps = []
    for a, b in zip(seq, seq[1:]):
        if (a, b) in big:
            p = max(big[(a, b)] - D, 0.0) / ctx[a] + (
                D * types[a] / ctx[a]) * pcont(b)
        else:
            lam = D * types[a] / ctx[a] if a in ctx else 1.0
            p = lam * pcont(b)
        lps.append(math.log(p))
    return len(lps), math.exp(-sum(lps) / len(lps))


def test_kn_bigram_python_differential(spark):
    """Interpolated Kneser-Ney perplexity equals the exact pure-Python
    computation — estimated discount D = n1/(n1+2 n2), type-count
    continuation probabilities, unseen context/target legs — on seen
    and held-out docs; and the KN hallmark holds: a high-frequency
    single-context word ranks below a type-diverse one as a novel
    continuation."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRAIN)], "doc_id long, text string"
    )
    model = LM.bigram_lm_train(df)
    big, _, _ = _py_model(TRAIN)

    held = TRAIN + [
        "the cat sat quietly",
        "zebra jumps over fences",
        "mat the on sat cat the",
        "",
    ]
    hdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(held)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_transitions"], r["ppl"])
        for r in LM.kn_bigram_perplexity(hdf, model).collect()
    }
    for i, t in enumerate(held):
        n, ppl = _py_kn_ppl(t, big)
        assert got[i][0] == n, t
        assert got[i][1] == pytest.approx(ppl, rel=1e-12), t

    # fixed-discount path too
    got_d = {
        r["doc_id"]: r["ppl"]
        for r in LM.kn_bigram_perplexity(hdf, model, discount=0.75).collect()
    }
    for i, t in enumerate(held):
        _, ppl = _py_kn_ppl(t, big, discount=0.75)
        assert got_d[i] == pytest.approx(ppl, rel=1e-12), t


def test_kn_continuation_beats_raw_frequency(spark):
    """The KN insight ("san francisco"): 'francisco' is FREQUENT but
    follows only 'san'; 'day' is rarer overall but follows many
    contexts. After an unseen context, KN must prefer the
    type-diverse continuation — raw-frequency JM prefers the
    frequent one."""
    corpus = (
        ["san francisco"] * 8
        + ["good day", "bad day", "nice day", "rainy day"]
    )
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    model = LM.bigram_lm_train(df)
    probe = spark.createDataFrame(
        [(0, "zzz francisco"), (1, "zzz day")], "doc_id long, text string"
    )
    kn = {r["doc_id"]: r["ppl"] for r in LM.kn_bigram_perplexity(probe, model).collect()}
    jm = {r["doc_id"]: r["ppl"] for r in LM.bigram_perplexity(probe, model).collect()}
    assert kn[1] < kn[0]   # KN: diverse 'day' likelier after unseen ctx
    assert jm[0] < jm[1]   # JM: raw-frequent 'francisco' likelier


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_kn_perplexity_oracle_parity(spark, sf_dir):
    """The second r13 registration candidate, parity-pinned NOW:
    queries.q_kn_perplexity — interpolated Kneser-Ney perplexity
    (estimated discount, type-count continuation) — vs its full
    DuckDB oracle, hash-grade (n_transitions exact, ppl at 6dp)."""
    import duckdb

    from willa_spark.queries import KN_PERPLEXITY_ORACLE, q_kn_perplexity

    got = sorted(
        (r["doc_id"], r["n_transitions"], r["ppl"])
        for r in q_kn_perplexity(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(KN_PERPLEXITY_ORACLE).fetchall()
    )
    assert len(got) == len(want) > 0
    assert got == want
    assert all(1.0 < p < 1e6 for _, _, p in got)


from hypothesis import HealthCheck, given, settings, strategies as st

_words = st.sampled_from(["the", "cat", "dog", "sat", "ran", "on", "mat", "a"])
_texts = st.lists(
    st.lists(_words, min_size=0, max_size=6).map(" ".join),
    min_size=1,
    max_size=6,
)


@given(train=_texts, held=_texts)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_lm_hypothesis_differential(spark, train, held):
    """Hypothesis: for ANY small corpus (including empty docs and
    repeated texts) and ANY held-out set, both scorers equal the
    exact pure-Python computation on every doc — the JM and KN
    formulas, discount estimation, sentinels, and unseen-mass legs
    hold under arbitrary token sequences, not just the crafted
    fixtures."""
    tdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train)], "doc_id long, text string"
    )
    hdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(held)], "doc_id long, text string"
    )
    model = LM.bigram_lm_train(tdf)
    big, ctx, tgt = _py_model(train)

    got_jm = {
        r["doc_id"]: (r["n_transitions"], r["ppl"])
        for r in LM.bigram_perplexity(hdf, model).collect()
    }
    for i, t in enumerate(held):
        n, ppl = _py_ppl(t, big, ctx, tgt)
        assert got_jm[i][0] == n
        assert got_jm[i][1] == pytest.approx(ppl, rel=1e-12), ("jm", t)

    n1 = sum(1 for c in big.values() if c == 1)
    if n1 == 0:
        # degenerate corpus: the estimated discount is 0 and every
        # unseen-bigram leg would be log(0) — the operator must fail
        # LOUD (r12 review: Spark's NULL log was silently skipped by
        # sum while count still counted the row, deflating ppl)
        with pytest.raises(Exception, match="discount is 0"):
            LM.kn_bigram_perplexity(hdf, model).collect()
        return
    got_kn = {
        r["doc_id"]: (r["n_transitions"], r["ppl"])
        for r in LM.kn_bigram_perplexity(hdf, model).collect()
    }
    for i, t in enumerate(held):
        n2, ppl2 = _py_kn_ppl(t, big)
        assert got_kn[i][0] == n2
        assert got_kn[i][1] == pytest.approx(ppl2, rel=1e-12), ("kn", t)


def test_kn_degenerate_discount_fails_loud(spark):
    """A model with no 1-count bigrams estimates D=0 — every unseen
    bigram would take log(0), which Spark's log returns as NULL and
    sum silently SKIPS while count still counts (r12 review, verified
    live: a zero-probability doc got ppl 1.41 and sailed through
    admission). The operator must raise instead; explicit discounts
    outside (0,1) fail at call; a valid explicit discount rescues the
    degenerate model and matches the pure-Python value."""
    dup = spark.createDataFrame(
        [(0, "the the"), (1, "the the")], "doc_id long, text string"
    )
    model = LM.bigram_lm_train(dup)
    probe = spark.createDataFrame([(0, "cat")], "doc_id long, text string")
    with pytest.raises(Exception, match="discount is 0"):
        LM.kn_bigram_perplexity(probe, model).collect()
    with pytest.raises(ValueError, match="discount must be in"):
        LM.kn_bigram_perplexity(probe, model, discount=0.0)
    with pytest.raises(ValueError, match="discount must be in"):
        LM.kn_bigram_perplexity(probe, model, discount=1.0)
    big, _, _ = _py_model(["the the", "the the"])
    got = LM.kn_bigram_perplexity(probe, model, discount=0.75).collect()[0]
    n, ppl = _py_kn_ppl("cat", big, discount=0.75)
    assert got["n_transitions"] == n
    assert got["ppl"] == pytest.approx(ppl, rel=1e-12)


def test_make_bigram_scorer_matches_one_shot(spark):
    """The frozen-scorer factory (tables pinned once at construction)
    scores identically to the one-shot functions for both scorers,
    and rejects unknown scorers / degenerate models AT CONSTRUCTION."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRAIN)], "doc_id long, text string"
    )
    model = LM.bigram_lm_train(df)
    probe = spark.createDataFrame(
        [(0, "the cat sat quietly"), (1, "zebra jumps over fences"), (2, "")],
        "doc_id long, text string",
    )
    for scorer, one_shot in (
        ("jm", LM.bigram_perplexity),
        ("kn", LM.kn_bigram_perplexity),
    ):
        fn = LM.make_bigram_scorer(model, scorer=scorer)
        got = sorted(tuple(r) for r in fn(probe).collect())
        want = sorted(tuple(r) for r in one_shot(probe, model).collect())
        assert got == want, scorer
    with pytest.raises(ValueError, match="unknown scorer"):
        LM.make_bigram_scorer(model, scorer="bogus")
    dup = LM.bigram_lm_train(
        spark.createDataFrame(
            [(0, "the the"), (1, "the the")], "doc_id long, text string"
        )
    )
    with pytest.raises(Exception, match="discount is 0"):
        LM.make_bigram_scorer(dup, scorer="kn")


def test_lm_empty_model_fails_loud(spark):
    """An EMPTY model frame (bad training path / over-filtered
    snapshot) fails loud from every entry point — r12 review,
    verified live: unguarded, KN scored every doc ppl=1.0
    (admit-all) while JM's NULL totals made every ppl NULL
    (drop-all), both silent."""
    empty = LM.bigram_lm_train(
        spark.createDataFrame([], "doc_id long, text string")
    )
    probe = spark.createDataFrame([(0, "the cat")], "doc_id long, text string")
    with pytest.raises(Exception, match="EMPTY model"):
        LM.bigram_perplexity(probe, empty).collect()
    with pytest.raises(Exception, match="EMPTY model"):
        LM.kn_bigram_perplexity(probe, empty).collect()
    with pytest.raises(Exception, match="EMPTY model"):
        LM.make_bigram_scorer(empty)  # construction-time (eager pin)


def test_make_bigram_scorer_cross_knobs_fail_loud(spark):
    """Cross-scorer knobs are config errors, not silent no-ops: lam
    with kn, discount with jm; and the degenerate-discount remedy is
    REACHABLE through the deployment entry points (discount plumbs
    through lm_perplexity_step and the composed pipeline)."""
    from willa_spark.streaming.selection import lm_perplexity_step

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRAIN)], "doc_id long, text string"
    )
    model = LM.bigram_lm_train(df)
    with pytest.raises(ValueError, match="Jelinek-Mercer knob"):
        LM.make_bigram_scorer(model, scorer="kn", lam=0.5)
    with pytest.raises(ValueError, match="Kneser-Ney knob"):
        LM.make_bigram_scorer(model, scorer="jm", discount=0.75)
    # the degenerate model is rescuable via the step's discount knob
    dup_model = LM.bigram_lm_train(
        spark.createDataFrame(
            [(0, "the the"), (1, "the the")], "doc_id long, text string"
        )
    )
    with pytest.raises(Exception, match="discount is 0"):
        lm_perplexity_step(dup_model, scorer="kn")
    step = lm_perplexity_step(dup_model, scorer="kn", discount=0.75)
    probe = spark.createDataFrame([(0, "cat")], "doc_id long, text string")
    got = step(probe, 0).collect()[0]
    big, _, _ = _py_model(["the the", "the the"])
    _, ppl = _py_kn_ppl("cat", big, discount=0.75)
    assert got["ppl"] == pytest.approx(ppl, rel=1e-12)


def test_lm_above_gate_hash_join_path(spark):
    """The 100 TB claim at the module header ("broadcast under
    BROADCAST_MODEL_MAX_ROWS, hash-joins above it") as a TEST, not
    documentation (r12 verdict #3): scoring with broadcast_max_rows=0
    — the plan a web-scale bigram table too big for one executor
    actually runs — must (a) contain NO BroadcastHashJoin for the
    model-table joins (the 1-row scalar crossJoin is exempt: it is
    explicitly F.broadcast and bounded by construction), and (b)
    agree with the broadcast path at the registered row's 6dp
    contract AND to 1e-12 relative, for BOTH scorers. NOT
    bit-identity: the shuffle join scatters a doc's transitions
    across partitions by join key, so the per-doc partial-agg sum
    folds in a different order than the broadcast path's
    partition-local order, and IEEE addition is non-associative —
    measured drift is last-ulp (~1e-13 rel), which is exactly why
    every registered ppl rounds to 6dp before hashing (the
    sum-order discipline, q_lm_perplexity docstring)."""
    from willa_spark.plans import physical_plan

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRAIN)], "doc_id long, text string"
    )
    model = LM.bigram_lm_train(df).localCheckpoint(eager=True)
    probe = spark.createDataFrame(
        [(0, "the cat sat quietly"), (1, "zebra jumps over fences"), (2, "")],
        "doc_id long, text string",
    )
    for name, fn in (
        ("jm", LM.bigram_perplexity),
        ("kn", LM.kn_bigram_perplexity),
    ):
        wide = fn(probe, model, broadcast_max_rows=0)
        narrow = fn(probe, model)
        # plan pin: with the gate at 0 every model-table join must be
        # a shuffle join. AQE can still plan BroadcastHashJoin for the
        # tiny fixture at RUNTIME, so pin the pre-AQE static plan and
        # count its broadcast joins: only the bounded 1-row scalar
        # crossJoins (explicit F.broadcast) may appear as
        # BroadcastNestedLoopJoin; zero equi BroadcastHashJoin.
        plan = physical_plan(wide)
        assert "BroadcastHashJoin" not in plan, name
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
        # the broadcast path really broadcasts (the gate is live)
        assert "BroadcastHashJoin" in physical_plan(narrow), name
        got = sorted(tuple(r) for r in wide.collect())
        want = sorted(tuple(r) for r in narrow.collect())
        assert [g[:2] for g in got] == [w[:2] for w in want], name
        for g, w in zip(got, want):
            assert g[2] == pytest.approx(w[2], rel=1e-12), name
            assert round(g[2], 6) == round(w[2], 6), name  # the 6dp contract


def test_frozen_plan_pin_width_and_value_parity(spark):
    """r16 pin-path change: inside the broadcast gate, _frozen_plan
    coalesces each derived vocab-sized table to ONE partition before
    the eager pin (the sequential 32-task pins of a 973-row model
    measured ~1.2 s of pure per-job scheduling) and pins them
    CONCURRENTLY; above the gate the partitioning is untouched (a
    web-scale vocab table must not collapse to one task). Values must
    be identical either way — coalesce merges output partitions of
    per-row derivations over exact counts."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRAIN)], "doc_id long, text string"
    )
    model = LM.bigram_lm_train(df)
    for scorer in ("jm", "kn"):
        narrow, nb = LM._frozen_plan(
            model, scorer, LM.DEFAULT_LAMBDA, LM.DEFAULT_ALPHA, None
        )
        wide, wb = LM._frozen_plan(
            model,
            scorer,
            LM.DEFAULT_LAMBDA,
            LM.DEFAULT_ALPHA,
            None,
            broadcast_max_rows=0,
        )
        assert nb and not wb, scorer
        for tab, _ in narrow["joins"] + [(narrow["scalars"], None)]:
            assert tab.rdd.getNumPartitions() == 1, scorer
        # (no width assertion on the wide arm: AQE coalesces this
        # fixture's tiny shuffles to one partition on its own — the
        # above-gate contract is only that _pin adds NO coalesce)
        for (nt, nk), (wt, wk) in zip(narrow["joins"], wide["joins"]):
            assert nk == wk, scorer
            got = sorted(tuple(r) for r in nt.collect())
            want = sorted(tuple(r) for r in wt.collect())
            assert got == want, scorer
        assert narrow["scalars"].collect() == wide["scalars"].collect(), scorer


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_ccnet_perplexity_oracle_parity(spark, sf_dir):
    """The r14 registration candidate (parked-with-oracle discipline),
    parity-pinned NOW: queries.q_ccnet_perplexity — the true CCNet
    deployment shape, a KN bigram LM trained ONLY on the every-13th
    target sample scoring every OTHER doc through the frozen-model
    make_bigram_scorer path — vs its full DuckDB oracle, hash-grade
    (n_transitions exact, ppl equal at 6dp)."""
    import duckdb

    from willa_spark.queries import (
        CCNET_PERPLEXITY_ORACLE,
        q_ccnet_perplexity,
    )

    got = sorted(
        (r["doc_id"], r["n_transitions"], r["ppl"])
        for r in q_ccnet_perplexity(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(CCNET_PERPLEXITY_ORACLE).fetchall()
    )
    assert len(got) == len(want) > 0
    assert got == want
    # deployment-shape contracts: no target doc is scored, and the
    # scored side is exactly the complement
    assert all(i % 13 != 0 for i, _, _ in got)
    # direction sanity: cross-domain scoring sits at sane perplexity
    assert all(1.0 < p < 1e7 for _, _, p in got)


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_ccnet_curation_oracle_parity(spark, sf_dir):
    """The second r15 registration candidate (parked-with-oracle
    discipline), parity-pinned NOW: queries.q_ccnet_curation — the
    SQL-expressible CCNet admission composition (Gopher screen → PII
    redaction → exact clean-text dedup → frozen target-KN cut) — vs
    its full DuckDB oracle, hash-grade ((doc_id, lang) exact,
    n_transitions exact, ppl equal at 6dp), plus the composition
    invariants: a non-trivial admission (0 < admitted < crawl), every
    admitted ppl at or under the cut, no target doc admitted, and no
    two admitted docs sharing a clean-text fingerprint."""
    import duckdb

    from willa_spark.functions.text import fingerprint
    from willa_spark.queries import (
        CCNET_CURATION_ORACLE,
        CCNET_PPL_CUT,
        q_ccnet_curation,
    )
    from willa_spark.sources import read_table

    out = q_ccnet_curation(spark, sf_dir)
    got = sorted(
        (r["doc_id"], r["lang"], r["n_transitions"], r["ppl"])
        for r in out.collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(CCNET_CURATION_ORACLE).fetchall())
    assert len(got) == len(want) > 0
    assert got == want
    n_crawl = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 != 0)
        .count()
    )
    assert 0 < len(got) < n_crawl
    assert all(r[3] <= CCNET_PPL_CUT for r in got)
    assert all(r[0] % 13 != 0 for r in got)
    docs = read_table(spark, sf_dir, "documents")
    admitted_ids = [r[0] for r in got]
    fps = (
        docs.filter(F.col("doc_id").isin(admitted_ids))
        .select(fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert fps == 0
