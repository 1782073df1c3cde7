"""Property tests (SURVEY.md §5.4): cross-aggregate invariants that must hold
for ANY input, plus dedupe idempotence."""

from pyspark.sql import functions as F

from ictspark import aggregates as A
from ictspark import io, parse


def _steps_a(spark, sf_dir):
    return A.with_attempt(parse.parse_steps(io.load_transcripts(spark, sf_dir)))


def test_hourly_sums_to_total_yield(spark, smoke_sf_dir):
    sa = _steps_a(spark, smoke_sf_dir)
    h = A.hourly_stats(A.runs(sa)).agg(F.sum("ok").alias("ok"), F.sum("nok").alias("nok")).first()
    y = A.yields(sa).where("level = 'conv' and grain = 'total'").first()
    assert (h["ok"], h["nok"]) == (y["ok"], y["nok"])


def test_grain_consistency(spark, smoke_sf_dir):
    """First-pass failures ≥ after-retest failures; populations equal."""
    sa = _steps_a(spark, smoke_sf_dir)
    y = {r["grain"]: r for r in A.yields(sa).where("level = 'conv'").collect()}
    assert y["first"]["nok"] >= y["after_retest"]["nok"]
    assert y["first"]["ok"] + y["first"]["nok"] == y["after_retest"]["ok"] + y["after_retest"]["nok"]
    assert y["total"]["ok"] + y["total"]["nok"] >= y["first"]["ok"] + y["first"]["nok"]


def test_failure_detail_matches_counts(spark, smoke_sf_dir):
    sa = _steps_a(spark, smoke_sf_dir)
    from_detail = (
        A.failure_detail(sa).groupBy("mode", "step").count().withColumnRenamed("count", "n_fail")
    )
    diff = A.failure_counts(sa).exceptAll(from_detail).count()
    assert diff == 0


def test_by_index_sums_to_counts(spark, smoke_sf_dir):
    sa = _steps_a(spark, smoke_sf_dir)
    summed = A.failures_by_index(sa).groupBy("mode", "step").agg(F.sum("n_fail").alias("n_fail"))
    assert A.failure_counts(sa).exceptAll(summed).count() == 0


def test_dedupe_idempotence(spark, smoke_sf_dir):
    """Re-ingesting an overlap window (AutoUpdate 5 s re-read, SURVEY T2/T4)
    must not change results after dropDuplicates."""
    t = io.load_transcripts(spark, smoke_sf_dir)
    overlap = t.where(F.col("ts") >= F.lit("2024-03-02 00:00:00"))
    doubled = t.unionByName(overlap).dropDuplicates(["conv_id", "turn_idx"])
    a = A.yields(A.with_attempt(parse.parse_steps(doubled)))
    b = A.yields(A.with_attempt(parse.parse_steps(t)))
    assert a.exceptAll(b).count() == 0
    # the ingest dedupe is newest-wins: a re-push with a revised payload and
    # a newer ts replaces every overlapped key, and a second pass is a no-op
    revised = overlap.withColumn("text", F.concat("text", F.lit(" [rev]"))).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 SECOND")
    )
    kept = io.dedupe_transcripts(t.unionByName(revised))
    assert kept.count() == t.count()
    assert kept.where(F.col("text").endswith(" [rev]")).count() == overlap.count()
    assert io.dedupe_transcripts(kept).exceptAll(kept).count() == 0


def test_retest_counts_consistent(spark, smoke_sf_dir):
    sa = _steps_a(spark, smoke_sf_dir)
    rc = A.retest_counts(sa)
    assert rc.where(F.col("n_retest") >= F.col("n_exec")).count() == 0
    total_exec = rc.agg(F.sum("n_exec")).first()[0]
    assert total_exec == sa.count()


def test_salted_agg_equals_plain_groupby(spark, smoke_sf_dir):
    """Skew helper must be semantics-preserving: salted two-phase == plain agg."""
    from ictspark.skew import conv_turn_stats

    t = io.load_transcripts(spark, smoke_sf_dir)
    salted = conv_turn_stats(t, n_salts=8)
    plain = t.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.countDistinct("tool").cast("long").alias("n_tools"),
    )
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0


def test_connected_components_matches_union_find(spark):
    """CC min-label propagation == reference union-find on random graphs
    (seed-deterministic; covers singletons, chains, cycles, merges)."""
    import random

    rng = random.Random(7)
    for trial in range(5):
        n = rng.randint(1, 40)
        n_edges = rng.randint(0, 60)
        raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(n_edges)]
        raw = [(a, b) for a, b in raw if a != b]
        # reference union-find
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in raw:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        exp = {x: find(x) for x in range(n)}
        # normalize: component head = min member
        comp_members: dict = {}
        for x, r in exp.items():
            comp_members.setdefault(r, []).append(x)
        exp_norm = {x: min(comp_members[find(x)]) for x in range(n)}

        from ictspark.extras.curation import connected_components

        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        sym = list({(a, b) for a, b in raw} | {(b, a) for a, b in raw})
        if sym:
            edges = spark.createDataFrame(sym, "doc_a long, doc_b long")
        else:
            edges = spark.createDataFrame([], "doc_a long, doc_b long")
        got = {
            r["doc_id"]: r["component"]
            for r in connected_components(nodes, edges, max_iter=50).collect()
        }
        assert got == exp_norm, f"trial {trial}: n={n} edges={raw}"


def test_error_bursts_property(spark):
    """Hypothesis: for arbitrary pass/fail sequences, error_bursts equals a
    plain-Python fold over the sequence."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=12, deadline=None)
    @given(st.lists(st.booleans(), min_size=1, max_size=40))
    def check(fails):
        rows = [
            ("conv-0000-01", i, 0, f"s{i}", "fail" if f else "pass")
            for i, f in enumerate(fails)
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, line_no int, step string, status string"
        )
        got = A.error_bursts(df).collect()
        # python fold
        n = mx = cur = 0
        for f in fails:
            if f:
                cur += 1
                n += cur == 1
                mx = max(mx, cur)
            else:
                cur = 0
        if n == 0:
            assert got == []
        else:
            assert len(got) == 1
            assert (got[0]["n_bursts"], got[0]["max_burst"]) == (n, mx)

    check()


def test_winnowing_guarantee_property(spark):
    """THE winnowing theorem (Schleimer et al. §3): two documents sharing any
    substring of length ≥ w + k - 1 (= 23 at k=8, w=16) MUST share at least
    one selected fingerprint — the guarantee that makes the fingerprint
    equi-join a sound near-dup candidate generator. Randomized over seeds:
    distinct random docs with a random planted shared run."""
    import random

    from ictspark.extras.textstats import winnow_selected

    rows = []
    expected_pairs = []
    for seed in range(8):
        rng = random.Random(seed)
        alpha = "abcdefghijklmnopqrstuvwxyz"
        shared = "".join(rng.choice(alpha) for _ in range(23 + rng.randrange(20)))
        a = "".join(rng.choice(alpha) for _ in range(rng.randrange(30, 120)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randrange(30, 120)))
        ia, ib = 2 * seed, 2 * seed + 1
        rows.append((ia, a[: len(a) // 2] + shared + a[len(a) // 2 :]))
        rows.append((ib, b[: len(b) // 3] + shared + b[len(b) // 3 :]))
        expected_pairs.append((ia, ib))
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    sel = winnow_selected(docs).collect()
    sets: dict = {}
    for r in sel:
        sets.setdefault(r["doc_id"], set()).add(r["fp"])
    for ia, ib in expected_pairs:
        assert sets[ia] & sets[ib], f"guarantee violated for docs {ia},{ib}"


def test_minhash_sizing_formula_properties():
    """Hypothesis sweep over the r06 MinHash sizers: for any threshold and r,
    the derived band count must actually DELIVER the target recall under the
    OR-construction (the formula's own promise, checked independently), more
    bands never hurt, and a higher threshold never needs more bands at fixed
    r. Degenerate thresholds stay finite (clamps)."""
    from hypothesis import given, settings, strategies as st

    from ictspark.extras.dedup import minhash_bands_for, minhash_rows_for

    @settings(max_examples=200, deadline=None)
    @given(
        st.floats(min_value=0.05, max_value=0.95),
        st.integers(min_value=1, max_value=6),
        st.floats(min_value=0.9, max_value=0.99999),
    )
    def check(threshold, r, target):
        bands = minhash_bands_for(threshold, r, target)
        assert bands >= 1
        achieved = 1.0 - (1.0 - threshold**r) ** bands
        assert achieved >= target - 1e-9, (threshold, r, target, bands, achieved)
        # minimality: one band fewer must miss the target (no over-sizing)
        if bands > 1:
            assert 1.0 - (1.0 - threshold**r) ** (bands - 1) < target + 1e-9
        # monotonicity in threshold at fixed r
        higher = min(threshold + 0.04, 0.99)
        assert minhash_bands_for(higher, r, target) <= bands
        # the row sizer returns an r whose k fits its own budget (or r=1)
        rr = minhash_rows_for(threshold, max_k=64, target_recall=target)
        assert rr >= 1
        if rr > 1:
            assert rr * minhash_bands_for(threshold, rr, target) <= 64

    check()
    # degenerate inputs: finite, conservative answers — no domain errors
    assert minhash_bands_for(0.0, 1, 0.999) >= 1
    assert minhash_bands_for(1.0, 4, 0.9999) == 1
    assert minhash_rows_for(0.0) == 1


def _py_spans(token_lists, k, min_span, bench_token_lists=None):
    """Pure-Python reference for the token-span family: identical keeper /
    coverage / interval-merge / min_span semantics, brute-forced."""
    occ = {}  # shingle -> sorted list of (doc_id, start)
    for d, toks in token_lists.items():
        for s in range(max(0, len(toks) - k + 1)):
            occ.setdefault(tuple(toks[s : s + k]), []).append((d, s))
    if bench_token_lists is None:
        dup = {}
        for sh, places in occ.items():
            if len(places) < 2:
                continue
            keeper = min(places)
            for p in places:
                if p != keeper:
                    dup.setdefault(p[0], []).append(p[1])
    else:
        bench = set()
        for toks in bench_token_lists.values():
            for s in range(max(0, len(toks) - k + 1)):
                bench.add(tuple(toks[s : s + k]))
        dup = {}
        for sh, places in occ.items():
            if sh in bench:
                for d, s in places:
                    dup.setdefault(d, []).append(s)
    out = {}
    for d, toks in token_lists.items():
        covered = set()
        for s in sorted(dup.get(d, [])):
            covered.update(range(s, s + k))
        # maximal runs of covered positions, forgive short ones
        spans, run = [], []
        for i in range(len(toks)):
            if i in covered:
                run.append(i)
            elif run:
                spans.append(run)
                run = []
        if run:
            spans.append(run)
        spans = [sp for sp in spans if len(sp) >= min_span]
        cut = set(i for sp in spans for i in sp)
        kept = [t for i, t in enumerate(toks) if i not in cut]
        out[d] = (len(toks), len(cut), " ".join(kept))
    return out


def test_repeated_ngram_spans_property(spark):
    """Hypothesis: for random small-alphabet corpora (forced repeats),
    repeated_ngram_spans equals the brute-force Python reference in
    n_tokens, removed_tokens and the rewritten text."""
    from hypothesis import given, settings, strategies as st

    from ictspark.extras.dedup import repeated_ngram_spans

    word = st.sampled_from(["aa", "bb", "cc", "dd"])
    doc = st.lists(word, min_size=0, max_size=18)

    @settings(max_examples=10, deadline=None)
    @given(st.lists(doc, min_size=2, max_size=5), st.integers(min_value=2, max_value=4))
    def check(docs_tokens, k):
        token_lists = {i + 1: t for i, t in enumerate(docs_tokens)}
        df = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in token_lists.items()],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["n_tokens"], r["removed_tokens"], r["new_text"])
            for r in repeated_ngram_spans(df, k=k).collect()
        }
        assert got == _py_spans(token_lists, k, k)

    check()


def test_decontaminate_spans_property(spark):
    """Hypothesis: decontaminate_spans equals the brute-force reference
    (every benchmark-covered position cut, no keeper)."""
    from hypothesis import given, settings, strategies as st

    from ictspark.extras.dedup import decontaminate_spans

    word = st.sampled_from(["aa", "bb", "cc"])
    doc = st.lists(word, min_size=0, max_size=14)

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(doc, min_size=1, max_size=4),
        st.lists(doc, min_size=1, max_size=2),
        st.integers(min_value=2, max_value=3),
    )
    def check(train_tokens, bench_tokens, k):
        train = {i + 1: t for i, t in enumerate(train_tokens)}
        bench = {100 + i: t for i, t in enumerate(bench_tokens)}
        tdf = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in train.items()], "doc_id long, text string"
        )
        bdf = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in bench.items()], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_tokens"], r["removed_tokens"], r["new_text"])
            for r in decontaminate_spans(tdf, bdf, k=k).collect()
        }
        assert got == _py_spans(train, k, k, bench_token_lists=bench)

    check()


def _py_dsir(raw_tokens, target_tokens, n_buckets):
    """Pure-Python DSIR reference: md5-prefix hashed unigram+bigram bags,
    add-one-smoothed target/raw log-ratios, occurrence-summed per raw doc
    — a third derivation independent of both the Spark plan and the
    DuckDB oracle SQL."""
    import hashlib
    import math

    def bucket(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % n_buckets

    def feats(toks):
        out = [bucket(t) for t in toks]
        out += [bucket(f"{a} {b}") for a, b in zip(toks, toks[1:])]
        return out

    tf = [b for toks in target_tokens.values() for b in feats(toks)]
    rf = {d: feats(toks) for d, toks in raw_tokens.items()}
    ct, cr = {}, {}
    for b in tf:
        ct[b] = ct.get(b, 0) + 1
    for bs in rf.values():
        for b in bs:
            cr[b] = cr.get(b, 0) + 1
    tt, rt = float(len(tf)), float(sum(len(bs) for bs in rf.values()))
    lr = {
        b: math.log((ct.get(b, 0) + 1.0) / (tt + n_buckets))
        - math.log((cr.get(b, 0) + 1.0) / (rt + n_buckets))
        for b in set(ct) | set(cr)
    }
    return {
        d: (len(bs), sum(lr[b] for b in bs)) for d, bs in rf.items() if bs
    }


def test_dsir_weights_property(spark):
    """Hypothesis: for random small-alphabet corpora, dsir_weights equals
    the brute-force Python reference in n_feats exactly and logw to the
    rounding tolerance — and the incremental store's 2-batch ingest equals
    the one-shot bit-for-bit on the same draw."""
    from hypothesis import given, settings, strategies as st

    from ictspark.extras.curation import dsir_weights

    word = st.sampled_from(["aa", "bb", "cc", "dd"])
    doc = st.lists(word, min_size=0, max_size=10)

    @settings(max_examples=8, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=4), st.lists(doc, min_size=1, max_size=2))
    def check(raw_docs, target_docs):
        raw = {i + 1: t for i, t in enumerate(raw_docs)}
        tgt = {100 + i: t for i, t in enumerate(target_docs)}
        rdf = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in raw.items()], "doc_id long, text string"
        )
        tdf = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in tgt.items()], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_feats"], r["logw"])
            for r in dsir_weights(rdf, tdf, n_buckets=64).collect()
        }
        want = _py_dsir(raw, tgt, 64)
        assert set(got) == set(want)
        for d, (nf, lw) in want.items():
            assert got[d][0] == nf
            assert abs(got[d][1] - lw) < 2e-6  # both sides round at 6

    check()


def test_incr_dsir_matches_oneshot_property(spark, tmp_path_factory):
    """Hypothesis: the incremental DSIR store's split ingest equals the
    one-shot over the union BIT-FOR-BIT on random corpora and splits (the
    store contract, exercised beyond the fixed registry split)."""
    from hypothesis import given, settings, strategies as st

    from ictspark.extras import incr_dsir
    from ictspark.extras.curation import dsir_weights

    word = st.sampled_from(["aa", "bb", "cc"])
    doc = st.lists(word, min_size=1, max_size=8)

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(doc, min_size=2, max_size=5),
        st.lists(doc, min_size=1, max_size=2),
        st.randoms(use_true_random=False),
    )
    def check(raw_docs, target_docs, rng):
        raw = {i + 1: t for i, t in enumerate(raw_docs)}
        tgt = {100 + i: t for i, t in enumerate(target_docs)}
        rdf = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in raw.items()], "doc_id long, text string"
        )
        tdf = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in tgt.items()], "doc_id long, text string"
        )
        split = {d: rng.randint(0, 1) for d in raw}
        store = str(tmp_path_factory.mktemp("dsirprop"))
        incr_dsir.init_store(tdf, store, n_buckets=64)
        for i in (0, 1):
            ids = [d for d, s in split.items() if s == i]
            if ids:
                incr_dsir.ingest_batch(
                    rdf.where(F.col("doc_id").isin(ids)), store, f"b{i}"
                )
        got = sorted(
            tuple(r) for r in incr_dsir.weights_read(spark, store).collect()
        )
        want = sorted(
            tuple(r) for r in dsir_weights(rdf, tdf, n_buckets=64).collect()
        )
        assert got == want

    check()


def test_incr_spans_matches_brute_property(spark, tmp_path_factory):
    """Hypothesis: the incremental span store's split ingest equals the
    brute-force Python span reference over the union — random small-alphabet
    corpora (forced repeats) and random 2-way splits, so keeper election
    genuinely crosses batches on most draws."""
    from hypothesis import given, settings, strategies as st

    from ictspark.extras import incr_spans

    word = st.sampled_from(["aa", "bb", "cc"])
    doc = st.lists(word, min_size=0, max_size=14)

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(doc, min_size=2, max_size=5),
        st.randoms(use_true_random=False),
    )
    def check(docs_tokens, rng):
        token_lists = {i + 1: t for i, t in enumerate(docs_tokens)}
        df = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in token_lists.items()],
            "doc_id long, text string",
        )
        split = {d: rng.randint(0, 1) for d in token_lists}
        store = str(tmp_path_factory.mktemp("spanprop"))
        k = 3
        for i in (0, 1):
            ids = [d for d, s_ in split.items() if s_ == i]
            if ids:
                incr_spans.ingest_batch(
                    df.where(F.col("doc_id").isin(ids)), store, f"b{i}", k=k
                )
        got = {
            r["doc_id"]: (r["n_tokens"], r["removed_tokens"], r["new_text"])
            for r in incr_spans.spans_read(spark, store).collect()
        }
        assert got == _py_spans(token_lists, k, k)

    check()


def _py_fuzzy_decontam(train_tokens, bench_tokens, k, threshold):
    """Pure-Python decontaminate_fuzzy reference: 3-gram shingles (distinct,
    uncapped), the md5-derived linear-permutation MinHash family, est =
    matching-position fraction, per-train rollup with explicit 0/false for
    clean docs — a third derivation beside the Spark plan and the DuckDB
    brute-force oracle."""
    import hashlib

    from ictspark.extras.dedup import MH_PRIME, mh_coeffs

    def sig(toks, kk):
        sh = {
            " ".join(toks[i : i + 3]) for i in range(max(0, len(toks) - 2))
        }
        if not sh:
            return None
        vals = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in sh]
        halves = [(v >> 30, v & ((1 << 30) - 1)) for v in vals]
        return [
            min((a * hi + b * lo + c) % MH_PRIME for hi, lo in halves)
            for a, b, c in mh_coeffs(kk)
        ]

    kk = k
    tsig = {d: sig(t, kk) for d, t in train_tokens.items()}
    bsig = {d: sig(t, kk) for d, t in bench_tokens.items()}
    out = {}
    for d, s in tsig.items():
        hits = []
        if s is not None:
            for bs in bsig.values():
                if bs is None:
                    continue
                est = sum(1 for x, y in zip(s, bs) if x == y) / kk
                if est >= threshold:
                    hits.append(est)
        out[d] = (
            len(hits),
            round(max(hits), 4) if hits else None,
            len(hits) > 0,
        )
    return out


def test_decontaminate_fuzzy_property(spark):
    """Hypothesis: decontaminate_fuzzy equals the brute-force Python MinHash
    reference on random small-alphabet corpora — flags, hit counts and
    max_est all match, clean docs explicit."""
    from hypothesis import given, settings, strategies as st

    from ictspark.extras.dedup import (
        AUTO_MAX_K,
        LSH_THRESHOLD,
        minhash_bands_for,
        minhash_rows_for,
    )
    from ictspark.extras.dedup import decontaminate_fuzzy
    from ictspark.extras.similarity import AUTO_TARGET_RECALL

    r = minhash_rows_for(LSH_THRESHOLD, AUTO_MAX_K, AUTO_TARGET_RECALL)
    k = r * minhash_bands_for(LSH_THRESHOLD, r, AUTO_TARGET_RECALL)

    word = st.sampled_from(["aa", "bb", "cc", "dd"])
    doc = st.lists(word, min_size=0, max_size=12)

    @settings(max_examples=6, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=4), st.lists(doc, min_size=1, max_size=2))
    def check(train_docs, bench_docs):
        train = {i + 1: t for i, t in enumerate(train_docs)}
        bench = {100 + i: t for i, t in enumerate(bench_docs)}
        tdf = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in train.items()], "doc_id long, text string"
        )
        bdf = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in bench.items()], "doc_id long, text string"
        )
        got = {
            r_["doc_id"]: (r_["n_bench_hits"], r_["max_est"], r_["contaminated"])
            for r_ in decontaminate_fuzzy(tdf, bdf).collect()
        }
        assert got == _py_fuzzy_decontam(train, bench, k, LSH_THRESHOLD)

    check()


def test_spans_irregular_whitespace_positions(spark):
    """Pinned edge for the r09 lead-chain shingle rewrite: post-filter token
    positions under leading/multiple whitespace and tabs (posexplode's
    pre-filter index -> row_number post-filter) must match the brute-force
    reference — the generated property corpora are single-spaced, so this
    edge needs its own fixture."""
    from ictspark.extras.dedup import repeated_ngram_spans

    texts = {
        1: "  aa\tbb  cc aa bb cc dd  ",
        2: "aa bb cc aa bb cc dd",
        3: "\n aa  bb\ncc aa bb cc dd",
    }
    token_lists = {d: t.split() for d, t in texts.items()}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["removed_tokens"], r["new_text"])
        for r in repeated_ngram_spans(df, k=3).collect()
    }
    assert got == _py_spans(token_lists, 3, 3)
