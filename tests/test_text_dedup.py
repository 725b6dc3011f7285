"""Text analysis + deduplication operator tests on the synthetic corpus."""

import pyspark.sql.functions as F
import pytest

from feast_java_old_spark.operators import dedup, text
from feast_java_old_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def test_text_stats_shape_and_ranges(docs):
    out = text.text_stats(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows[:50]:
        assert r.n_tokens > 0
        assert 0.0 <= r.punct_ratio <= 1.0
        assert 0.0 <= r.stopword_ratio <= 1.0
        assert 0.0 <= r.quality_score <= 1.0


def test_token_count(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 times")], "doc_id long, text string")
    out = df.select(text.token_count(F.col("text")).alias("n")).collect()
    # hello | , | world | ! | 4 | 2 | times
    assert out[0].n == 7


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "a  b\tc"), (2, "A B C"), (3, "totally different")],
        "doc_id long, text string",
    )
    fps = [r.fp for r in df.select(text.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_lang_id_deterministic(docs):
    out = text.lang_id(docs)
    assert out.count() == docs.count()
    langs = {r.predicted_lang for r in out.collect()}
    assert langs <= {"de", "en", "es", "fr"}


def test_dedup_exact_finds_planted_dups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string",
    )
    out = {r.canonical_id: r.n_copies for r in dedup.dedup_exact(df).collect()}
    assert out == {1: 2, 3: 1}


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "x y")], "doc_id long, text string")
    rows = df.select(dedup.shingles(F.col("text"), 3).alias("s")).collect()
    assert rows[0].s == ["a b c", "b c d"]
    assert rows[1].s == []  # too short


def test_minhash_lsh_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    other = "completely unrelated words about spark catalyst optimizer internals"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_candidates(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "a b c x y")],
        "doc_id long, text string",
    )
    out = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.ngram_jaccard_pairs(df, threshold=0.0).collect()}
    assert out[(1, 2)] == 1.0
    # doc1 shingles {abc,bcd,cde}, doc3 {abc,bcx,cxy}: |∩|=1,|∪|=5
    assert out[(1, 3)] == pytest.approx(0.2)


def test_ngram_jaccard_max_df_prunes_hot_shingles_from_join_only(spark):
    """The document-frequency prune removes stop-shingles from the
    self-join (killing the quadratic group) but NOT from the per-doc
    sizes — jaccard becomes a lower bound, never an overestimate."""
    # 'a b c' appears in all 4 docs (df=4); each pair also shares one
    # rare continuation shingle.
    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d f"),
            (3, "a b c g h"),
            (4, "a b c g i"),
        ],
        "doc_id long, text string",
    )
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.0, max_df=None).collect()
    }
    pruned = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.0, max_df=3).collect()
    }
    # (1,2) share {abc, bcd} exact; with abc pruned (df=4>3) only bcd
    # counts but sizes stay 3 → 1/(3+3-1)=0.2 vs exact 2/4=0.5
    assert exact[(1, 2)] == pytest.approx(0.5)
    assert pruned[(1, 2)] == pytest.approx(0.2)
    # pairs sharing ONLY the hot shingle vanish entirely
    assert (1, 3) in exact and (1, 3) not in pruned
    assert all(pruned[p] <= exact[p] for p in pruned)


def test_verify_candidate_pairs_matches_full_jaccard(spark, sf_dir):
    """LSH-candidate verification equals the full inverted-index Jaccard
    restricted to the candidate set (the 100 TB composition: generate ->
    verify)."""
    from feast_java_old_spark.operators import dedup
    from feast_java_old_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cands = dedup.minhash_lsh_candidates(docs)
    verified = dedup.verify_candidate_pairs(docs, cands, threshold=0.4)
    full = dedup.ngram_jaccard_pairs(docs, threshold=0.4).join(
        cands, ["doc_a", "doc_b"]
    )
    cols = ["doc_a", "doc_b", "jaccard"]
    assert verified.select(cols).exceptAll(full.select(cols)).count() == 0
    assert full.select(cols).exceptAll(verified.select(cols)).count() == 0
    assert verified.count() > 0  # planted near-dups survive verification


def test_simhash_similar_docs_share_bands(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    df = spark.createDataFrame([(1, base), (2, near)], "doc_id long, text string")
    sh = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    assert len(sh[1]) == 32 and set(sh[1]) <= {"0", "1"}
    hamming = sum(a != b for a, b in zip(sh[1], sh[2]))
    assert hamming <= 8  # near-dup → small Hamming distance
    cands = {(r.doc_a, r.doc_b) for r in dedup.simhash_candidates(df).collect()}
    assert (1, 2) in cands


def test_simhash_stability(docs):
    a = dedup.simhash(docs).orderBy("doc_id").collect()
    b = dedup.simhash(docs).orderBy("doc_id").collect()
    assert a == b


def test_dedup_components(spark):
    # components: {1,2,3} (chain), {4,5}, {6} isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    out = {r.doc_id: r.group_id for r in dedup.dedup_components(pairs, ids).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_dedup_components_long_chain(spark):
    # chain 10→…→1 requires multiple propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "doc_a long, doc_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")
    out = {r.doc_id: r.group_id for r in dedup.dedup_components(pairs, ids).collect()}
    assert set(out.values()) == {1}


def test_dedup_components_counts_changes_when_observation_is_late(
    spark, monkeypatch
):
    """A round whose observed change count misses the deadline counts its
    changed rows with a job instead, and the labels are the same."""
    from pyspark.sql import Observation

    class NeverArrives(Observation):
        """Creates the JVM observation but attaches no metrics to the
        frame, so its result never completes."""

        def _on(self, df, *exprs):
            self._jvm = df.sparkSession._jvm
            self._jo = self._jvm.org.apache.spark.sql.Observation(self._name)
            return df

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)] + [(20, 21)], "doc_a long, doc_b long"
    )
    ids = spark.createDataFrame(
        [(i,) for i in [*range(1, 11), 20, 21, 30]], "doc_id long"
    )
    observed = {
        r.doc_id: r.group_id for r in dedup.dedup_components(pairs, ids).collect()
    }
    monkeypatch.setattr(dedup, "_OBSERVATION_WAIT_MS", 0)
    monkeypatch.setattr(dedup, "Observation", NeverArrives)
    counted = {
        r.doc_id: r.group_id for r in dedup.dedup_components(pairs, ids).collect()
    }
    assert counted == observed
    assert counted == {**{i: 1 for i in range(1, 11)}, 20: 20, 21: 20, 30: 30}


def test_dedup_components_nonconvergence_raises(spark):
    # diameter > max_iterations: must NOT silently return partial labels
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "doc_a long, doc_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        dedup.dedup_components(pairs, ids, max_iterations=2)
    with pytest.warns(RuntimeWarning, match="fixpoint"):
        out = dedup.dedup_components(
            pairs, ids, max_iterations=2, on_nonconverged="warn"
        )
        out.collect()  # partial labels still materialize under "warn"


def test_dedup_components_reliable_checkpoint(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    ids = spark.createDataFrame([(i,) for i in range(1, 4)], "doc_id long")
    out = {
        r.doc_id: r.group_id
        for r in dedup.dedup_components(
            pairs, ids, checkpoint="reliable"
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1}


def test_repetition_signals(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # one token repeated 4x
            (2, "a b c d"),          # all distinct
            (3, "x y x y x y"),      # bigrams: "x y" x3, "y x" x2
            (4, "solo"),             # 1 token: no bigrams -> NULLs
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.repetition_signals(docs).collect()}
    assert out[1].top_1gram_frac == 1.0 and out[1].dup_1gram_frac == 1.0
    assert out[2].top_1gram_frac == 0.25 and out[2].dup_1gram_frac == 0.0
    assert out[3].top_2gram_frac == pytest.approx(0.6)
    assert out[3].dup_2gram_frac == 1.0
    assert out[4].top_2gram_frac is None and out[4].dup_2gram_frac is None


def test_pii_scrub_counts_and_redaction(spark):
    from feast_java_old_spark.operators import pii

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.co.uk and d@e.org now"),
            (2, "ssn 123-45-6789 phone 555-123-4567 alt 555.123.4567"),
            (3, "ip 192.168.0.1 and 10.0.255.254"),
            (4, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pii.scrub_pii(docs).collect()}
    assert out[1].n_email == 2 and "[EMAIL]" in out[1].text
    assert "@" not in out[1].text
    assert out[2].n_ssn == 1 and out[2].n_phone == 2
    assert out[2].text == "ssn [SSN] phone [PHONE] alt [PHONE]"
    assert out[3].n_ipv4 == 2 and out[3].text == "ip [IPV4] and [IPV4]"
    assert out[4].n_email == out[4].n_ssn == out[4].n_phone == out[4].n_ipv4 == 0
    assert out[4].text == "clean text with no pii at all"


def test_chunk_dedup_removes_shared_passages(spark):
    shared = "one two three four five six seven eight"  # exactly 1 chunk
    docs = spark.createDataFrame(
        [
            (1, shared + " unique alpha beta gamma delta epsilon zeta eta"),
            (2, shared + " other words entirely different from the first"),
            (3, "totally novel content with no duplicated chunks here x"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.chunk_dedup(docs, chunk_tokens=8).collect()}
    assert out[1].n_chunks == 2 and out[1].n_removed == 1
    assert out[1].text == "unique alpha beta gamma delta epsilon zeta eta"
    assert out[2].n_removed == 1 and shared not in out[2].text
    assert out[3].n_removed == 0 and out[3].text == docs.collect()[2].text.lower()


def test_chunk_dedup_full_dup_doc_empties(spark):
    same = "a b c d e f g h i j k l m n o p"
    docs = spark.createDataFrame(
        [(1, same), (2, same)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dedup.chunk_dedup(docs, chunk_tokens=8).collect()}
    assert out[1].text == "" and out[1].n_removed == out[1].n_chunks == 2
    assert out[2].text == ""


def test_line_dedup_preserves_order_and_case(spark):
    docs = spark.createDataFrame(
        [
            (1, "Keep Me\nCOPYRIGHT BOILERPLATE\nalso keep"),
            (2, "COPYRIGHT BOILERPLATE\nnovel line two"),
            (3, "nothing shared\nat all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.line_dedup(docs).collect()}
    assert out[1].text == "Keep Me\nalso keep" and out[1].n_removed == 1
    assert out[2].text == "novel line two"
    assert out[3].text == "nothing shared\nat all" and out[3].n_removed == 0


def test_stratified_sample_deterministic_and_monotone(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
        "doc_id long, lang string",
    )
    s1 = {r.doc_id for r in text.stratified_sample(docs, "lang", {"en": 0.5, "de": 0.2}, key_col="doc_id").collect()}
    s2 = {r.doc_id for r in text.stratified_sample(docs, "lang", {"en": 0.5, "de": 0.2}, key_col="doc_id").collect()}
    assert s1 == s2  # bit-for-bit reproducible
    # raising a rate strictly grows the sample (hash-threshold property)
    bigger = {r.doc_id for r in text.stratified_sample(docs, "lang", {"en": 0.8, "de": 0.2}, key_col="doc_id").collect()}
    assert s1 <= bigger
    # realized rates near nominal (1000 keys/stratum, md5 uniform)
    en = sum(1 for d in s1 if d % 2 == 0) / 1000
    de = sum(1 for d in s1 if d % 2 == 1) / 1000
    assert abs(en - 0.5) < 0.06 and abs(de - 0.2) < 0.06
    # unknown stratum -> default_rate=0 -> dropped
    extra = spark.createDataFrame([(9999999, "xx")], "doc_id long, lang string")
    assert text.stratified_sample(extra, "lang", {"en": 0.5}).count() == 0


def test_top_k_vocabulary_order_and_plan(spark):
    docs = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a b z")], "doc_id long, text string"
    )
    out = text.top_k_vocabulary(docs, k=3).collect()
    assert [(r.rank, r.token, r.freq) for r in out] == [
        (1, "b", 4), (2, "a", 3), (3, "c", 1),  # c before z: lex tie-break
    ]
    plan = text.top_k_vocabulary(docs, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # distributed top-k, no global sort


def test_sequence_pack_distributed_prefix_sum(spark):
    """Distributed prefix-sum equals the flat cumsum regardless of
    bucket size; docs never split and offsets are start positions."""
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (10 + i))) for i in range(50)],
        "doc_id long, text string",
    )
    flat = []
    acc = 0
    for i in range(50):
        n = 10 + i
        flat.append((i, n, acc // 64, acc % 64))
        acc += n
    for bucket in (7, 1000):  # many buckets vs one bucket — same answer
        out = sorted(
            (r.doc_id, r.n_tokens, r.pack_id, r.pack_offset)
            for r in text.sequence_pack(
                docs, seq_len=64, bucket_size=bucket
            ).collect()
        )
        assert out == flat, f"bucket_size={bucket}"


def test_logistic_quality_classifier(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(["the word"] * 60)), (2, "x! y! z! !!!")],
        "doc_id long, text string",
    )
    score = text.logistic_quality_cols(
        {"n_tokens": 0.02, "stopword_ratio": 4.0, "punct_ratio": -6.0},
        bias=-1.5,
    )
    out = {r.doc_id: r for r in docs.select(
        "doc_id", score.alias("s"), (score >= 0.5).alias("keep")
    ).collect()}
    assert out[1].keep is True and out[1].s > 0.9
    assert out[2].keep is False and out[2].s < 0.1
    with pytest.raises(KeyError, match="unknown quality signals"):
        text.logistic_quality_cols({"nope": 1.0})


def test_simhash_candidates_max_hamming_prefilter(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different text about spark shuffle partitions and joins"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    loose = {(r.doc_a, r.doc_b) for r in dedup.simhash_candidates(df).collect()}
    tight = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_candidates(df, max_hamming=8).collect()
    }
    assert (1, 2) in tight            # near-dup survives (hamming <= 8)
    assert tight <= loose             # prefilter only removes pairs
    assert (1, 3) not in tight and (2, 3) not in tight


def test_simhash_candidates_pigeonhole_complete(spark, sf_dir):
    """With bands > max_hamming, recall of every pair within the hamming
    radius is GUARANTEED (a pair differing in <= 3 of 32 bits must agree
    exactly on one of 4 bands) — the contract the gate query's exact
    oracle relies on. Brute-force check against all fingerprint pairs."""
    from itertools import combinations

    from feast_java_old_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fps = {r.doc_id: r.simhash for r in dedup.simhash(docs, bits=32).collect()}
    want = {
        (min(a, b), max(a, b))
        for a, b in combinations(fps, 2)
        if sum(x != y for x, y in zip(fps[a], fps[b])) <= 3
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_candidates(docs, max_hamming=3).collect()
    }
    assert want <= got
    # and the prefilter admits nothing outside the radius
    assert got == want


def test_verify_strategies_identical_output(spark, sf_dir):
    from feast_java_old_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cands = dedup.minhash_lsh_candidates(docs)
    cols = ["doc_a", "doc_b", "jaccard"]
    j = dedup.verify_candidate_pairs(docs, cands, threshold=0.4).select(cols)
    s = dedup.verify_candidate_pairs(
        docs, cands, threshold=0.4, strategy="sets"
    ).select(cols)
    assert j.exceptAll(s).count() == 0 and s.exceptAll(j).count() == 0
    assert s.count() > 0
    with pytest.raises(ValueError):
        dedup.verify_candidate_pairs(docs, cands, strategy="nope")


def test_simhash_dense_scheme_wide_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    [r] = dedup.simhash(df, bits=128, scheme="dense").collect()
    assert len(r.simhash) == 128 and set(r.simhash) <= {"0", "1"}
    with pytest.raises(ValueError):
        dedup.simhash(df, bits=64)  # nibble scheme caps at 32
    with pytest.raises(ValueError):
        dedup.simhash(df, bits=32, scheme="nope")
    with pytest.raises(ValueError):
        dedup.simhash_candidates(df, bits=128, scheme="dense", max_hamming=4)


def test_novelty_score_unique_vs_shared(spark):
    from feast_java_old_spark.operators.text import novelty_score

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),     # shares "alpha beta gamma" w/ 2
            (2, "alpha beta gamma epsilon"),
            (3, "totally original private content here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in novelty_score(df).collect()}
    # doc1: shingles {a b g, b g d}; "a b g" shared -> novelty 0.5
    assert out[1].n_ngrams == 2 and out[1].n_unique == 1
    assert out[1].novelty == 0.5
    assert out[3].novelty == 1.0


def test_containment_catches_excerpt_jaccard_misses(spark):
    from feast_java_old_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    long_doc = (
        "intro sentence one here today. " * 4 + quote + ". closing remarks "
        "with many extra trailing words to inflate the union size a lot "
        "more filler text keeps going and going beyond any overlap zone"
    )
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, "unrelated text entirely different")],
        "doc_id long, text string",
    )
    cont = {(r.doc_small, r.doc_big): r.containment
            for r in containment_pairs(df, threshold=0.8).collect()}
    # the quote is fully contained: containment ~1 with doc 1 as small side
    assert (1, 2) in cont and cont[(1, 2)] >= 0.8
    # symmetric Jaccard misses it at the same bar
    jac = {(r.doc_a, r.doc_b)
           for r in ngram_jaccard_pairs(df, threshold=0.8).collect()}
    assert (1, 2) not in jac


def test_minhash_lsh_banding_exact_contract(spark):
    """LSH banding contract, brute-forced at the signature level: the
    candidate set must be EXACTLY the pairs whose k-minhash signatures
    agree on at least one full band — no missed band collision (recall
    completeness over the banding scheme) and no phantom pair (the
    band join adds nothing the signatures don't imply). Also asserts
    the pigeonhole recall floor: signatures differing in fewer than
    `bands` positions cannot avoid a full-band collision.

    This validates the whole production pipeline — the explode+agg
    signature computation (minhash_band_buckets) against the per-row
    expression form (minhash_signature), plus the band self-join —
    because the brute force is computed from the EXPRESSION signatures
    while the candidates come from the aggregate path."""
    import itertools

    k, bands = 12, 4
    rows_per_band = k // bands
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, base),
        (2, base.replace("kappa", "lambda")),
        (3, base.replace("alpha beta", "alpha mu")),
        (4, "totally different content about query optimizers and joins"),
        (5, base),  # exact dup of 1: all bands agree
        (6, "another unrelated short document entirely"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = {
        r.doc_id: tuple(r.sig)
        for r in df.select(
            "doc_id", dedup.minhash_signature(F.col("text"), k=k).alias("sig")
        ).collect()
    }
    expected = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        sa, sb = sigs[a], sigs[b]
        for band in range(bands):
            lo = band * rows_per_band
            if sa[lo : lo + rows_per_band] == sb[lo : lo + rows_per_band]:
                expected.add((a, b))
                break
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_candidates(df, k=k, bands=bands).collect()
    }
    assert got == expected
    # the corpus must actually exercise both sides of the contract
    assert (1, 5) in expected and (4, 6) not in expected
    # pigeonhole floor: < bands disagreeing positions => must collide
    for a, b in itertools.combinations(sorted(sigs), 2):
        diff = sum(1 for x, y in zip(sigs[a], sigs[b]) if x != y)
        if diff < bands:
            assert (a, b) in expected


# ---------------------------------------------------------------- ExactSubstr


@pytest.fixture(scope="module")
def substr_corpus(spark):
    # 12-token shared passage across docs 1 and 2 (different surroundings),
    # doc 3 repeats a 8-token phrase internally (within-doc duplication
    # counts, per the suffix-array formulation), doc 4 is novel, doc 5 is
    # shorter than k and must survive untouched.
    shared = "the quick brown fox jumps over the lazy dog near the river"
    rep = "alpha beta gamma delta epsilon zeta eta theta"
    return spark.createDataFrame(
        [
            (1, f"intro words here {shared} outro trailing words"),
            (2, f"{shared} completely different ending material follows now"),
            (3, f"{rep} middle filler text goes here {rep}"),
            (4, "entirely novel content with no duplicated grams at all "
                "and some more unique words to pad the length out"),
            (5, "too short"),
        ],
        "doc_id long, text string",
    )


def test_duplicated_spans_cross_doc(substr_corpus):
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens, r.n_seeds)
        for r in dedup.duplicated_spans(substr_corpus, k=8).collect()
    }
    # doc 1: shared passage is tokens 3..14 (12 tokens); 5 seed 8-grams
    # (starts 3..7) merge into ONE maximal span by gap-and-islands.
    assert spans[1] == (3, 14, 12, 5)
    # doc 2: same passage at tokens 0..11.
    assert spans[2] == (0, 11, 12, 5)
    # doc 3: the repeated 8-gram occurs twice within one document —
    # min_count=2 counts total occurrences, so both copies are covered.
    s3 = dedup.duplicated_spans(substr_corpus, k=8).where(
        F.col("doc_id") == 3
    ).orderBy("span_start").collect()
    assert [(r.span_start, r.span_end) for r in s3] == [(0, 7), (13, 20)]
    # docs 4 and 5: nothing duplicated / shorter than k -> no spans.
    assert 4 not in spans and 5 not in spans


def test_duplicated_spans_distinct_doc_rule(substr_corpus):
    # count_distinct_docs=True ignores within-doc repetition: doc 3's
    # phrase appears in only one document -> no spans there, while the
    # cross-doc passage still seeds docs 1 and 2.
    out = dedup.duplicated_spans(
        substr_corpus, k=8, count_distinct_docs=True
    )
    ids = {r.doc_id for r in out.collect()}
    assert ids == {1, 2}


def test_substring_dedup_apply(substr_corpus):
    out = {
        r.doc_id: r for r in dedup.substring_dedup(substr_corpus, k=8).collect()
    }
    # every input doc comes back, exactly once
    assert set(out) == {1, 2, 3, 4, 5}
    # doc 1 keeps its novel surroundings only
    assert out[1].text == "intro words here outro trailing words"
    assert out[1].n_removed == 12
    # doc 3 loses both copies of the repeated phrase
    assert out[3].n_removed == 16
    assert "alpha" not in out[3].text
    assert "filler" in out[3].text
    # novel + short docs are untouched
    assert out[4].n_removed == 0
    assert out[5].text == "too short" and out[5].n_removed == 0
    # token accounting: n_tokens is the pre-removal count
    assert out[2].n_tokens == 12 + 6


def test_substring_dedup_null_text_survives(spark):
    """NULL text is treated as empty text: the document must still
    appear in the output (the contract: every input doc appears), not
    vanish through a NULL token array's empty posexplode."""
    df = spark.createDataFrame(
        [(1, "a b c d e f g h a b c d e f g h"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.substring_dedup(df, k=8).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2].text == "" and out[2].n_removed == 0


def test_prefix_filter_recall_complete_brute_force(spark):
    """Prefix-filter contract (Bayardo WWW'07 / Xiao WWW'08): with each
    doc's shingles ordered by one global total order and only the first
    |x|-ceil(t|x|)+1 indexed, EVERY pair with true Jaccard >= t must
    collide on some prefix shingle. Brute-force all pairs of a corpus
    engineered with graded overlaps (including pairs exactly AT the
    threshold) and assert candidates are a superset of true pairs and
    the verified output equals truth exactly."""
    from itertools import combinations

    base = [f"w{i}" for i in range(30)]
    rows = []
    # family of docs sharing a sliding window of the base vocabulary:
    # neighboring docs overlap heavily, distant ones not at all
    for d in range(12):
        rows.append((d, " ".join(base[d : d + 14])))
    # identical twins (j = 1.0) and a disjoint singleton
    rows.append((100, " ".join(base[0:14])))
    rows.append((200, " ".join(f"z{i}" for i in range(14))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    t = 0.5

    def grams(s):
        w = s.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = {d: grams(s) for d, s in rows}
    truth = {}
    for a, b in combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= t:
            truth[(a, b)] = round(j, 6)

    cands = {
        (r.doc_a, r.doc_b)
        for r in dedup.prefix_filter_candidates(docs, threshold=t).collect()
    }
    assert set(truth) <= cands  # recall-complete
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.prefix_filter_pairs(docs, threshold=t).collect()
    }
    assert got == truth  # verification leaves exactly the true pairs
    # and the filter actually filters: strictly fewer candidates than
    # the all-pairs join it replaces
    n = len(rows)
    assert len(cands) < n * (n - 1) // 2
