"""Text-analysis column functions: lang-id, token counts, quality score."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from docling_japanese_books_spark.functions.text import (
    japanese_confidence,
    has_japanese,
    preview,
)
from docling_japanese_books_spark.operators.normalize import normalize_cjk
from docling_japanese_books_spark.operators.textstats import (
    bpe_ish_token_count,
    lang_id,
    quality_score,
    token_count,
)


@pytest.fixture(scope="module")
def tdf(spark):
    rows = [
        (0, "the cat and the dog went to the park and it was fun for it"),
        (1, "le chat et le chien sont dans la maison et la vie est belle"),
        (2, "el perro y el gato en la casa es que los dos son amigos"),
        (3, "der hund und die katze sind ein team und das ist von allen zu sehen"),
        (4, "これは日本語の文章です。漢字とひらがなが混ざっています。"),
        (5, ""),
        (6, "zzz qqq xxx www"),
    ]
    return spark.createDataFrame(rows, "id long, text string")


def test_lang_id(spark, tdf):
    out = {r.id: r.lang for r in tdf.select("id", lang_id(F.col("text")).alias("lang")).collect()}
    assert out[0] == "en"
    assert out[1] == "fr"
    assert out[2] == "es"
    assert out[3] == "de"
    assert out[4] == "ja"
    assert out[6] == "und"


def test_token_counts(spark, tdf):
    out = {r.id: (r.n, r.b) for r in tdf.select(
        "id",
        token_count(F.col("text")).alias("n"),
        bpe_ish_token_count(F.col("text")).alias("b"),
    ).collect()}
    assert out[0][0] == 15
    assert out[5][0] == 0
    assert out[0][1] >= out[0][0]  # subword proxy >= word count


SF001_DOCUMENTS = Path("/root/testdata/sf0.01/documents.parquet")


def _bpe_count_regex():
    """The original 3-branch alternation the translate() rewrite replaced."""
    return F.coalesce(
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]")),
        F.lit(0),
    )


def test_bpe_count_translate_rewrite_matches_regex(spark, tdf):
    """r8 rewrite (translate() arithmetic + single letter-class regex) must
    be bit-identical to the original 3-branch alternation on the edge
    shapes the arithmetic depends on: letter runs of every residue mod 4,
    digits, CJK (every char a 'symbol'), the exact Java \\s set including
    vertical tab, and null/empty text."""
    orig = _bpe_count_regex()
    edge_rows = [
        (100, "a ab abc abcd abcde abcdefgh abcdefghi"),
        (101, "12 34x5"),
        (102, "これは漢字とカタカナ、句読点。"),
        (103, "mixed 日本語 and english123!"),
        (104, "a\x0bb\tc\nd\fe\rf g"),  # every Java \s char + letters
        (105, None),
        (106, "    "),
    ]
    edf = spark.createDataFrame(edge_rows, "id long, text string")
    for df in (tdf, edf):
        got = df.select(
            "id",
            bpe_ish_token_count(F.col("text")).alias("new"),
            orig.alias("old"),
        ).collect()
        for r in got:
            assert r.new == r.old, (r.id, r.new, r.old)


@pytest.mark.skipif(
    not SF001_DOCUMENTS.exists(), reason="sf0.01 documents fixture absent"
)
def test_bpe_count_translate_rewrite_matches_regex_on_fixture_corpus(spark):
    """Corpus-level: zero mismatching rows on the real fixture documents."""
    docs = spark.read.parquet(str(SF001_DOCUMENTS))
    n_bad = (
        docs.select(
            (bpe_ish_token_count(F.col("text")) != _bpe_count_regex()).alias("d")
        )
        .filter("d")
        .count()
    )
    assert n_bad == 0


def test_quality_score_bounds(spark, tdf):
    out = tdf.select(quality_score(F.col("text")).alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in out)


def test_quality_orders_good_above_garbage(spark, tdf):
    out = {r.id: r.q for r in tdf.select("id", quality_score(F.col("text")).alias("q")).collect()}
    assert out[0] > out[6]  # real English beats keyboard mash


def test_japanese_confidence_reference_semantics(spark):
    # mirrors ref tests/test_basic.py:189-214: JP-dense -> True, EN -> False
    rows = [(0, "これはひらがなとカタカナと漢字です"), (1, "this is english text only")]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r.id: (r.c, r.h) for r in df.select(
        "id",
        japanese_confidence(F.col("text")).alias("c"),
        has_japanese(F.col("text")).alias("h"),
    ).collect()}
    assert out[0][1] is True and out[0][0] > 0.3
    assert out[1][1] is False


def test_preview_truncation(spark):
    long_text = "x" * 100 + "\nnewline"
    df = spark.createDataFrame([(long_text,), ("short",)], "text string")
    out = [r.p for r in df.select(preview(F.col("text")).alias("p")).collect()]
    assert out[0] == "x" * 80 + "..."
    assert out[1] == "short"


def test_normalize_cjk_pure():
    assert normalize_cjk("ＡＢＣ１２３") == "ABC123"
    assert normalize_cjk("ｶﾀｶﾅ") == "カタカナ"
    assert normalize_cjk("a　b") == "a b"  # ideographic space folded
    assert normalize_cjk("a\r\nb\rc") == "a\nb\nc"
    assert normalize_cjk(None) is None


def test_pii_redaction_and_counts(spark):
    from pyspark.sql import functions as F

    from docling_japanese_books_spark.operators.textstats import (
        pii_counts,
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "mail a.user+x@sub.example.co.uk and 10.0.0.1 call +44 (0)20 7946 0958 ok"),
            (2, "no pii here at all"),
            (3, ""),
            (4, "server at 192.168.100.217 responded"),  # 9+ chars: phone-shaped
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in df.select(
        "doc_id", redact_pii(F.col("text")).alias("red"),
        pii_counts(F.col("text")).alias("c")).collect()}
    assert "<EMAIL>" in out[1].red and "<IP>" in out[1].red and "<PHONE>" in out[1].red
    assert "a.user" not in out[1].red and "10.0.0.1" not in out[1].red
    assert out[1].c.emails == 1 and out[1].c.ips == 1 and out[1].c.phones >= 1
    assert out[2].red == "no pii here at all"
    assert out[3].red == ""
    # pii_counts mirrors redact_pii's order: a long IPv4 is an IP, NOT a phone
    assert out[4].c.ips == 1 and out[4].c.phones == 0
    assert "<IP>" in out[4].red and "<PHONE>" not in out[4].red


def test_repetition_rules(spark):
    from pyspark.sql import functions as F

    from docling_japanese_books_spark.operators.textstats import (
        duplicate_line_fraction,
        top_word_fraction,
    )

    df = spark.createDataFrame(
        [
            (1, "a\na\nb"),          # 3 lines, 2 distinct -> 1/3 dup
            (2, "x y x x"),           # 'x' is 3 of 4 tokens
            (3, ""),
            (4, "\n\n  \n"),          # only blank lines
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in df.select(
        "doc_id",
        duplicate_line_fraction(F.col("text")).alias("dl"),
        top_word_fraction(F.col("text")).alias("tw")).collect()}
    assert abs(out[1].dl - 1 / 3) < 1e-9
    assert abs(out[2].tw - 0.75) < 1e-9
    assert out[3].dl == 0.0 and out[3].tw == 0.0
    assert out[4].dl == 0.0


def test_top_word_fraction_adversarial_many_distinct_tokens(spark):
    """A long document with ~100k distinct tokens: the Counter-based UDF is
    O(tokens) per row — the former interpreted higher-order formulation was
    O(distinct x tokens) and would take hours on this input."""
    import time

    from pyspark.sql import functions as F

    from docling_japanese_books_spark.operators.textstats import top_word_fraction

    n = 100_000
    text = " ".join(f"tok{i}" for i in range(n)) + " tok0"  # tok0 twice
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    t0 = time.time()
    out = df.select(top_word_fraction(F.col("text")).alias("tw")).collect()
    wall = time.time() - t0
    assert abs(out[0].tw - 2 / (n + 1)) < 1e-12
    assert wall < 30, f"top_word_fraction took {wall:.1f}s on 100k distinct tokens"


def test_lm_quality_paths_agree_and_rank_junk(spark):
    """The declarative (oracle-twin) and Arrow (production) scoring paths
    must produce identical numbers, junk must outscore fluent text under
    a model trained on the fluent sample, and sub-trigram docs score 0."""
    from docling_japanese_books_spark.operators.lm_quality import (
        lm_quality_score,
        lm_quality_score_arrow,
        train_trigram_counts,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog run through the forest"),
            (2, "the quick brown fox again and again in the same forest"),
            (3, "zxqj vvkpw qqqzz xjxjx mmmwww"),
            (4, "ab"),
        ],
        "doc_id long, text string",
    )
    tri, bi = train_trigram_counts(docs.filter("doc_id <= 2").select("text"))
    a = {r.doc_id: r.lm_score for r in lm_quality_score(docs, tri, bi).collect()}
    b = {
        r.doc_id: r.lm_score
        for r in lm_quality_score_arrow(docs, tri, bi).collect()
    }
    assert all(abs(a[k] - b[k]) < 1e-9 for k in a)
    assert a[3] > a[1] and a[3] > a[2]  # junk ranks worse
    assert a[4] == 0.0


def test_lm_quality_arrow_long_doc_wall_time(spark):
    """The Arrow path's inner loop is numpy-vectorized (packed codepoint
    trigrams + searchsorted) — a 500k-char document must score in seconds,
    and exactly match the per-character dict computation."""
    import math
    import time

    from docling_japanese_books_spark.operators.lm_quality import (
        V,
        lm_quality_score_arrow,
        train_trigram_counts,
    )

    base = "the quick brown fox jumps over the lazy dog and the 日本語 text "
    long_text = (base * (500_000 // len(base) + 1))[:500_000]
    trusted = spark.createDataFrame([(base * 20,)], "text string")
    tri, bi = train_trigram_counts(trusted)
    docs = spark.createDataFrame([(1, long_text)], "doc_id long, text string")

    t0 = time.time()
    got = lm_quality_score_arrow(docs, tri, bi).collect()[0].lm_score
    wall = time.time() - t0
    assert wall < 20, f"lm_quality arrow path took {wall:.1f}s on 500k chars"

    # reference value via the straightforward per-char dict scoring
    tri_map = {r["gram"]: int(r["n3"]) for r in tri.collect()}
    bi_map = {r["prefix"]: int(r["n2"]) for r in bi.collect()}
    logps = [
        math.log(
            (tri_map.get(long_text[i : i + 3], 0) + 1)
            / (bi_map.get(long_text[i : i + 2], 0) + V)
        )
        for i in range(len(long_text) - 2)
    ]
    expected = -sum(logps) / len(logps)
    assert abs(got - expected) < 1e-9


def test_perplexity_buckets_exact_thirds_and_boundary_ties(spark):
    from docling_japanese_books_spark.operators.lm_quality import (
        perplexity_buckets,
    )

    # 9 distinct scores -> exact thirds (CDF hits 1/3 and 2/3 on the nose:
    # the <=-threshold rule must put the boundary score in the LOWER bucket)
    rows = [(i, float(i)) for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, lm_score double")
    got = {r.doc_id: r.bucket for r in perplexity_buckets(df).collect()}
    assert [got[i] for i in range(9)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )


def test_perplexity_buckets_ties_share_a_bucket(spark):
    from docling_japanese_books_spark.operators.lm_quality import (
        perplexity_buckets,
    )

    # 6 rows of one score + 3 of another: the tied mass crosses both
    # boundaries so everything at that score lands in ONE bucket (head)
    rows = [(i, 1.0) for i in range(6)] + [(i, 2.0) for i in range(6, 9)]
    df = spark.createDataFrame(rows, "doc_id long, lm_score double")
    got = {r.doc_id: r.bucket for r in perplexity_buckets(df).collect()}
    assert all(got[i] == "head" for i in range(6))
    assert all(got[i] == "tail" for i in range(6, 9))


def test_perplexity_buckets_degenerate_single_value(spark):
    from docling_japanese_books_spark.operators.lm_quality import (
        perplexity_buckets,
    )

    df = spark.createDataFrame(
        [(i, 3.5) for i in range(5)], "doc_id long, lm_score double"
    )
    got = {r.bucket for r in perplexity_buckets(df).collect()}
    assert got == {"head"}  # one value: CDF jumps to 1.0, all head


def test_perplexity_buckets_custom_boundaries_and_rounding(spark):
    from docling_japanese_books_spark.operators.lm_quality import (
        perplexity_buckets,
    )

    rows = [(i, i / 10.0) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, lm_score double")
    out = perplexity_buckets(
        df, boundaries=(0.5,), labels=("keep", "drop"), precision=1
    )
    got = {r.doc_id: r.bucket for r in out.collect()}
    assert [got[i] for i in range(10)] == ["keep"] * 5 + ["drop"] * 5
    import pytest

    with pytest.raises(ValueError):
        perplexity_buckets(df, boundaries=(0.5,), labels=("only",))


def test_gopher_rules_clean_document_passes(spark):
    from pyspark.sql import functions as F

    from docling_japanese_books_spark.operators.textstats import gopher_rules

    clean = " ".join(
        ["the quick brown fox jumps over that lazy dog with style and"] * 6
    )  # 12 words x 6 = 72, all alphabetic, plenty of stop words
    df = spark.createDataFrame([(clean,)], "text string")
    g = df.select(gopher_rules(F.col("text")).alias("g")).collect()[0].g
    assert g.passes and g.words == 72 and g.stop_hits >= 4
    assert 3.0 <= g.mean_word_len <= 10.0


def test_gopher_rules_individual_failures(spark):
    from pyspark.sql import functions as F

    from docling_japanese_books_spark.operators.textstats import gopher_rules

    filler = "the and of that have with be to " * 8  # 64 words, passes alone
    cases = {
        # too short: 10 words
        "short": ("the and of that have with be to nine ten", "rule_word_count"),
        # bullets on every line
        "bullets": (
            "\n".join("- " + filler for _ in range(5)),
            "rule_bullets",
        ),
        # every line ends with an ellipsis
        "ellipsis": (
            "\n".join(filler.strip() + "..." for _ in range(5)),
            "rule_ellipsis_lines",
        ),
        # numeric spew: words without any alphabetic character
        "numeric": (
            filler + " ".join(str(n) for n in range(40)),
            "rule_alpha_words",
        ),
        # hash-symbol spam
        "hashes": (filler + "# " * 30, "rule_symbol_ratio"),
    }
    for name, (text, broken_rule) in cases.items():
        df = spark.createDataFrame([(text,)], "text string")
        g = df.select(gopher_rules(F.col("text")).alias("g")).collect()[0].g
        assert not g[broken_rule], f"{name}: expected {broken_rule} to fail"
        assert not g.passes, name


def test_gopher_rules_stopword_rule_needs_two_distinct(spark):
    from pyspark.sql import functions as F

    from docling_japanese_books_spark.operators.textstats import (
        gopher_filter,
        gopher_rules,
    )

    # 60 words but only ONE distinct Gopher stop word ('the') -> fails
    text = "the " * 30 + "quick brown foxes jump gracefully onward " * 5
    df = spark.createDataFrame([(text,)], "text string")
    g = df.select(gopher_rules(F.col("text")).alias("g")).collect()[0].g
    assert g.stop_hits == 1 and not g.rule_stopwords
    assert gopher_filter(df).count() == 0


def test_gopher_repetition_hand_computed(spark):
    from pyspark.sql import functions as F

    from docling_japanese_books_spark.operators.textstats import (
        gopher_repetition_rules,
    )

    # 4 lines, one duplicated once: dup_line_frac = 1/4; the dup line is
    # 'aa bb' (5 chars) of 5+5+7+9=26 stripped chars -> dup_line_char 5/26
    text = "aa bb\ncc dd\nee ff gg\naa bb\n\nhh ii jj"
    # wait: lines = [aa bb, cc dd, ee ff gg, aa bb, '', hh ii jj]
    df = spark.createDataFrame([(text,)], "text string")
    g = df.select(gopher_repetition_rules(F.col("text")).alias("g")).collect()[0].g
    assert g.dup_line_frac == round(1 / 5, 6)  # 5 nonempty lines, 1 dup
    total = len("aa bb") + len("cc dd") + len("ee ff gg") + len("aa bb") + len("hh ii jj")
    assert g.dup_line_char_frac == round(len("aa bb") / total, 6)
    # paragraphs: ['aa bb\ncc dd\nee ff gg\naa bb', 'hh ii jj'] - no dups
    assert g.dup_para_frac == 0.0 and g.dup_para_char_frac == 0.0
    # note: rep_passes is False here — on a 10-token text even a
    # single-occurrence top bigram exceeds 20% of chars, exactly as the
    # published formula behaves on tiny documents (Gopher's word-count
    # rule screens those out before this battery applies)


def test_gopher_repetition_top_ngram_and_dup_ngram(spark):
    from pyspark.sql import functions as F

    from docling_japanese_books_spark.operators.textstats import (
        gopher_repetition_rules,
    )

    # 'x y' bigram repeated 10 times + unique tail: top-2gram chars
    # = 10 occurrences x 2 chars over 20 + tail token chars
    text = "x y " * 10 + "unique1 unique2 unique3"
    df = spark.createDataFrame([(text,)], "text string")
    g = df.select(gopher_repetition_rules(F.col("text")).alias("g")).collect()[0].g
    total = 20 + len("unique1") + len("unique2") + len("unique3")
    # bigrams: ('x','y') occurs 10x, ('y','x') 9x
    assert g.top_2gram_char_frac == round(10 * 2 / total, 6)
    assert not g.rep_passes  # 20/41 > 0.20 threshold
    # a fully repeated 5-gram: every later occurrence's tokens marked
    text2 = "a1 b2 c3 d4 e5 " * 4 + "t u v w z"
    g2 = spark.createDataFrame([(text2,)], "text string").select(
        gopher_repetition_rules(F.col("text")).alias("g")
    ).collect()[0].g
    total2 = 4 * 10 + 5  # 20 tokens of len 2 + 5 singles
    # occurrences 2..4 of the repeated block mark tokens 5..19 (15 tokens,
    # 2 chars each) plus overlapping window marks at the seam
    assert g2.dup_5gram_char_frac >= round(15 * 2 / total2, 6)
    assert not g2.rep_passes


def test_gopher_repetition_clean_and_empty(spark):
    from pyspark.sql import functions as F

    from docling_japanese_books_spark.operators.textstats import (
        gopher_repetition_rules,
    )

    # clean = 80 distinct words: every n-gram occurs once, so top-n-gram
    # fractions are tiny and nothing is duplicated
    clean = " ".join(f"word{i:02d}x" for i in range(80))
    rows = [("",), (clean,)]
    df = spark.createDataFrame(rows, "text string")
    got = [r.g for r in df.select(
        gopher_repetition_rules(F.col("text")).alias("g")).collect()]
    assert all(g.rep_passes for g in got)
    assert got[0].dup_line_frac == 0.0 and got[0].top_2gram_char_frac == 0.0
    assert got[1].dup_5gram_char_frac == 0.0
    assert got[1].top_2gram_char_frac == round(2 * 7 / (80 * 7), 6)


def test_quality_score_hand_computed_golden(spark):
    """Retirement pin for the doc_quality_score oracle query: the
    composite formula itself, hand-computed. 'the cat and the dog.' ->
    n=20, toks=5, length 20/500, punct 1/5 -> 0.8, upper 1.0,
    stop 3/5*4 capped at 1.0: 0.3*0.04 + 0.2*0.8 + 0.2 + 0.3 = 0.672."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("the cat and the dog.",)], "text string")
    got = df.select(quality_score(F.col("text")).alias("q")).collect()[0].q
    assert got == 0.672
