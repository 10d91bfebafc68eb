"""Repetition signals (Gopher-style) + PII redaction — pure-expression
text quality functions, with known-answer fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pinecone_datasets_spark.functions.text import (
    duplicate_word_fraction,
    redact_pii,
    top_bigram_fraction,
)


@pytest.fixture(scope="module")
def one(spark):
    def run(text: str, col):
        df = spark.createDataFrame([(text,)], schema="t string")
        return df.select(col(F.col("t")).alias("v")).collect()[0]["v"]

    return run


def test_duplicate_word_fraction(one):
    assert one("a b c d", duplicate_word_fraction) == 0.0
    # "a a a b" -> 4 words, 2 distinct -> 0.5
    assert one("a a a b", duplicate_word_fraction) == 0.5
    assert one("", duplicate_word_fraction) == 0.0


def test_top_bigram_fraction(one):
    # bigrams of "x y x y x": (x y),(y x),(x y),(y x) -> top 2/4
    assert one("x y x y x", top_bigram_fraction) == 0.5
    # all-distinct bigrams -> 1/3
    assert abs(one("a b c d", top_bigram_fraction) - 1 / 3) < 1e-12
    # single word / empty: guarded, no backwards sequence()
    assert one("solo", top_bigram_fraction) == 0.0
    assert one("", top_bigram_fraction) == 0.0
    # pathological boilerplate: same bigram throughout -> 1.0
    assert one("spam spam spam spam", top_bigram_fraction) == 1.0


def test_redact_pii(one):
    assert (
        one("mail bob.smith+x@corp.example.co today", redact_pii)
        == "mail <EMAIL> today"
    )
    assert (
        one("see https://a.example.com/p?q=1 now", redact_pii)
        == "see <URL> now"
    )
    assert one("card 4111111111111111 ok", redact_pii) == "card <NUM> ok"
    # short digit runs survive; years/prices aren't PII
    assert one("born 1984, paid 100", redact_pii) == "born 1984, paid 100"
    # all three in one string
    assert (
        one("a@b.io at http://x.io/9 ref 123456789", redact_pii)
        == "<EMAIL> at <URL> ref <NUM>"
    )


def test_filter_by_quantile_top_quarter(spark):
    from pinecone_datasets_spark.operators.pipeline import filter_by_quantile

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], "id long, s double"
    )
    kept = filter_by_quantile(df, "s", 0.75, keep="above")
    ids = sorted(r["id"] for r in kept.collect())
    # exact interpolated p75 of 1..100 is 75.25 -> keep 76..100
    assert ids == list(range(76, 101))
    low = filter_by_quantile(df, "s", 0.25, keep="below")
    assert sorted(r["id"] for r in low.collect()) == list(range(1, 26))


def test_filter_by_quantile_validates(spark):
    import pytest as _pytest

    from pinecone_datasets_spark.operators.pipeline import filter_by_quantile

    df = spark.range(5).withColumn("s", __import__("pyspark").sql.functions.col("id").cast("double"))
    with _pytest.raises(ValueError):
        filter_by_quantile(df, "s", 1.5)
    with _pytest.raises(ValueError):
        filter_by_quantile(df, "s", 0.5, keep="sideways")


# ---------------------------------------------------------------------------
# char_entropy / compression_ratio
# ---------------------------------------------------------------------------


def test_char_entropy_values(spark):
    import math

    from pinecone_datasets_spark.functions.text import char_entropy

    df = spark.createDataFrame(
        [("aaaa",), ("abab",), ("abcd",), ("",), (None,)], "t string"
    )
    out = [r.e for r in df.select(char_entropy("t").alias("e")).collect()]
    assert out[0] == pytest.approx(0.0, abs=1e-12)          # one symbol
    assert out[1] == pytest.approx(math.log(2), rel=1e-9)   # two, uniform
    assert out[2] == pytest.approx(math.log(4), rel=1e-9)   # four, uniform
    assert out[3] == 0.0                                    # empty
    assert out[4] is None or out[4] == 0.0                  # null text


def test_char_entropy_orders_texts_sensibly(spark):
    from pinecone_datasets_spark.functions.text import char_entropy

    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),
         (2, "The quick brown fox jumps over the lazy dog.")],
        "id long, t string",
    )
    got = {r.id: r.e for r in df.select("id", char_entropy("t").alias("e")).collect()}
    assert got[2] > got[1]


def test_char_entropy_duckdb_twin(spark, tmp_path):
    import duckdb

    from pinecone_datasets_spark.functions.text import (
        char_entropy,
        char_entropy_sql,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r.doc_id: r.e
        for r in docs.select("doc_id", char_entropy("text").alias("e")).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    want = dict(
        con.execute(
            f"SELECT doc_id, {char_entropy_sql('text')} AS e FROM documents"
        ).fetchall()
    )
    # The sorted fold makes the summation order identical, but libm ln()
    # differs between the JVM and DuckDB by 1 ulp on some inputs — so
    # parity is to 12 decimals (entries round to 6), not bit-for-bit.
    assert set(got) == set(want)
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-12)


def test_compression_ratio_matches_zlib(spark):
    import zlib

    from pinecone_datasets_spark.functions.text import compression_ratio

    texts = ["spam " * 200, "The quick brown fox.", "", "αβγ δεζ"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r.c for r in df.select(compression_ratio("t").alias("c")).collect()]
    for t, g in zip(texts, got):
        raw = t.encode("utf-8")
        assert g == pytest.approx(
            len(zlib.compress(raw, 6)) / max(len(raw), 1), rel=1e-12
        )
    # boilerplate compresses far better than prose
    assert got[0] < 0.05 < got[1]


def test_compression_ratio_null_and_level_guard(spark):
    from pinecone_datasets_spark.functions.text import compression_ratio

    df = spark.createDataFrame([(None,)], "t string")
    assert df.select(compression_ratio("t").alias("c")).first().c is None
    with pytest.raises(ValueError):
        compression_ratio("t", level=11)


# ---------------------------------------------------------------------------
# Unicode normalization / clean_text
# ---------------------------------------------------------------------------

CLEAN_SAMPLES = [
    "café composed?",          # decomposed é -> composed
    "é already composed",
    "tab\tand\nnewline\r\nand  runs   of spaces",
    # \x01 not \x00 here: DuckDB's Python binding truncates bound
    # strings at an embedded NUL, so NUL parity is untestable through
    # literals (the Spark-only known-answer test covers \x00)
    "ctrl\x01chars\x08here\x0b\x0c\x1f\x7f\x9fgone",
    " nbsp stays a word joiner ",  # NBSP is content: not \s, not trimmed
    "ＡＢＣ fullwidth stays (NFC, not NFKC)",
    "emoji 🎉 and CJK 中文",
    "",
]


def test_clean_text_known_answers(one):
    from pinecone_datasets_spark.functions.text import clean_text

    got = one("café  x\x00y\tz", clean_text)
    assert got == "café x\x00y z".replace("\x00", "") == "café xy z"
    # NFC only composes — fullwidth/compatibility forms survive
    assert one("ＡＢＣ", clean_text) == "ＡＢＣ"
    # stage toggles
    assert one("a\x00b  c", lambda c: clean_text(c, nfc=False)) == "ab c"
    assert (
        one("a\x00b  c", lambda c: clean_text(c, collapse_whitespace=False))
        == "ab  c"
    )


def test_clean_text_null_passthrough(spark):
    from pinecone_datasets_spark.functions.text import clean_text

    df = spark.createDataFrame([(None,), ("x",)], "t string")
    vals = [r.v for r in df.select(clean_text("t").alias("v")).orderBy(
        F.col("v").asc_nulls_first()
    ).collect()]
    assert vals == [None, "x"]


def test_clean_text_duckdb_parity(spark):
    """Spark clean_text == DuckDB clean_text_sql on unicode edge cases —
    the dialect-parity contract the oracle relies on."""
    import duckdb

    from pinecone_datasets_spark.functions.text import (
        clean_text,
        clean_text_sql,
    )

    df = spark.createDataFrame([(s,) for s in CLEAN_SAMPLES], "t string")
    got = [
        r.v for r in df.select(clean_text("t").alias("v")).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT {clean_text_sql('?::VARCHAR')}", [s]
        ).fetchone()[0]
        for s in CLEAN_SAMPLES
    ]
    assert got == want
    # codegen-only variant (nfc=False) must also agree
    got2 = [
        r.v
        for r in df.select(clean_text("t", nfc=False).alias("v")).collect()
    ]
    want2 = [
        con.execute(
            f"SELECT {clean_text_sql('?::VARCHAR', nfc=False)}", [s]
        ).fetchone()[0]
        for s in CLEAN_SAMPLES
    ]
    assert got2 == want2


def test_unicode_normalize_nfkc_and_guards(one):
    from pinecone_datasets_spark.functions.text import (
        clean_text,
        unicode_normalize,
    )

    # NFKC folds compatibility forms NFC leaves alone
    assert one("ＡＢＣ ﬁ ①", lambda c: unicode_normalize(c, "NFKC")) == "ABC fi 1"
    assert one("ＡＢＣ", lambda c: unicode_normalize(c, "NFC")) == "ＡＢＣ"
    # through the scrub
    assert (
        one("  ＡＢＣ  x ", lambda c: clean_text(c, form="NFKC")) == "ABC x"
    )
    with pytest.raises(ValueError, match="form"):
        unicode_normalize("t", form="NFKX")


def test_tokenizer_class_vertical_tab_parity(spark):
    """The repo-wide tokenizer/normalizer class is the EXPLICIT
    [ \\t\\n\\r\\f\\x0B]+ on BOTH engines (r6 sweep): Java \\s matches
    \\x0B while RE2's does not, so a bare \\s+ silently diverges on
    \\x0B-bearing text. doc_fingerprint is the representative twin —
    Spark's md5(normalize(...)) must equal DuckDB's with the same
    explicit class, including across a vertical tab."""
    import duckdb

    from pinecone_datasets_spark.functions.text import doc_fingerprint

    df = spark.createDataFrame(
        [("a\x0bb",), ("a b",), ("  x\t\ny  ",)], "t string"
    )
    got = [r[0] for r in df.select(doc_fingerprint("t")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(
            "SELECT md5(regexp_replace(lower(trim(?)),"
            " '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))",
            [t],
        ).fetchone()[0]
        for t in ("a\x0bb", "a b", "  x\t\ny  ")
    ]
    assert got == want
    # and the \x0B collapse actually happened (same fp as the space form)
    assert got[0] == got[1]


# ---------------------------------------------------------------------------
# Line-level gates (FineWeb/Gopher) + sentence segmentation
# ---------------------------------------------------------------------------


def test_line_gates_known_answers(one):
    from pinecone_datasets_spark.functions.text import (
        bullet_line_fraction,
        duplicate_line_char_fraction,
        duplicate_line_fraction,
        end_punct_line_fraction,
        mean_words_per_line,
    )

    t = "First line.\nSecond line!\n- b one\n- b one\n* b2\n\n  \nshort"
    # 7 non-empty lines, "- b one" repeats once
    assert one(t, duplicate_line_fraction) == pytest.approx(1 / 6)
    # chars: repeated "- b one" contributes its 7 chars once as dup
    assert one(t, duplicate_line_char_fraction) == pytest.approx(
        7 / (11 + 12 + 7 + 7 + 4 + 5)
    )
    assert one(t, bullet_line_fraction) == pytest.approx(3 / 6)
    assert one(t, end_punct_line_fraction) == pytest.approx(2 / 6)
    assert one(t, mean_words_per_line) == pytest.approx(13 / 6)
    for fn in (
        duplicate_line_fraction,
        duplicate_line_char_fraction,
        bullet_line_fraction,
        end_punct_line_fraction,
        mean_words_per_line,
    ):
        assert one("", fn) == 0.0
        assert one("   \n  \n", fn) == 0.0


def test_line_gates_duckdb_twins(spark):
    duckdb = pytest.importorskip("duckdb")
    from pinecone_datasets_spark.functions.text import (
        bullet_line_fraction,
        duplicate_line_char_fraction,
        duplicate_line_fraction,
        end_punct_line_fraction,
        line_stats_sql,
        mean_words_per_line,
    )

    docs = [
        "First line.\nSecond!\n- b\n- b\n* c\n\nshort",
        "1. e\n2) e\n• dot\nplain\nends? ",
        "a\na\na\nb",
        "single line no punct",
        "",
        None,
    ]
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    got = df.select(
        duplicate_line_fraction("text").alias("dup_line_frac"),
        duplicate_line_char_fraction("text").alias("dup_line_char_frac"),
        bullet_line_fraction("text").alias("bullet_line_frac"),
        end_punct_line_fraction("text").alias("end_punct_line_frac"),
        mean_words_per_line("text").alias("mean_words_per_line"),
    ).collect()
    con = duckdb.connect()
    sqls = line_stats_sql("text")
    sel = "SELECT " + ", ".join(f"{v} AS {k}" for k, v in sqls.items())
    for d, row in zip(docs, got):
        exp = con.execute(sel + " FROM (SELECT ? AS text)", [d]).fetchone()
        assert tuple(row) == tuple(exp), (d, tuple(row), tuple(exp))


@pytest.mark.parametrize(
    "text, n, kept, dropped, positional, distinct",
    [
        # trim strips spaces only: a leading newline leaves an empty token
        ("\nA b", 2, ["", "a", "b"], ["a", "b"], ["a b"], ["a b"]),
        # a \x0B run is one separator (explicit class, not \s)
        ("a\x0B\x0Bb c", 2, ["a", "b", "c"], ["a", "b", "c"],
         ["a b", "b c"], ["a b", "b c"]),
        ("", 2, [""], [], [], []),
        (None, 2, None, None, [], []),
        # mixed case folds; n=1 gives the words, distinct drops repeats
        ("Hello World hello", 1, ["hello", "world", "hello"],
         ["hello", "world", "hello"], ["hello", "world", "hello"],
         ["hello", "world"]),
        ("Hello World hello", 2, ["hello", "world", "hello"],
         ["hello", "world", "hello"], ["hello world", "world hello"],
         ["hello world", "world hello"]),
        # n above the word count: no grams
        ("one two", 3, ["one", "two"], ["one", "two"], [], []),
    ],
)
def test_split_words_and_ngrams_edge_cases(
    spark, text, n, kept, dropped, positional, distinct
):
    """Pins the shared tokenizer and n-gram builder on edge inputs: the
    empty-token policy on both sides, case folding, and the empty gram
    array for NULL and short inputs that the decontaminate, boilerplate,
    terms and keyword operators rely on."""
    from pinecone_datasets_spark.functions.text import ngrams, split_words

    df = spark.createDataFrame([(text,)], "t string").select(
        split_words("t", drop_empty=False).alias("kept"),
        split_words("t", drop_empty=True).alias("dropped"),
    )
    row = df.select(
        "kept",
        "dropped",
        ngrams("dropped", n).alias("positional"),
        ngrams("dropped", n, distinct=True).alias("distinct"),
    ).first()
    assert row["kept"] == kept
    assert row["dropped"] == dropped
    assert row["positional"] == positional
    assert row["distinct"] == distinct


def test_split_sentences_and_ngrams(spark):
    duckdb = pytest.importorskip("duckdb")
    from pinecone_datasets_spark.functions.text import (
        sentence_ngrams,
        split_sentences,
        split_sentences_sql,
    )

    docs = [
        "First sentence. Second one! Third?? And a trailing fragment",
        "No punctuation here at all",
        "...",
        "One. Two. Three. Four.",
        "",
        None,
    ]
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    sents = [r[0] for r in df.select(split_sentences("text")).collect()]
    assert sents[0] == [
        "First sentence.", "Second one!", "Third??",
        "And a trailing fragment",
    ]
    assert sents[1] == ["No punctuation here at all"]
    assert sents[2] == []  # punctuation-only: no sentence content
    assert sents[4] == [] and sents[5] is None
    con = duckdb.connect()
    expr = split_sentences_sql("text")
    for d, x in zip(docs, sents):
        y = con.execute(
            f"SELECT {expr} FROM (SELECT ? AS text)", [d]
        ).fetchone()[0]
        assert (x is None and y is None) or list(x or []) == list(y or [])
    grams = [r[0] for r in df.select(sentence_ngrams("text", 3)).collect()]
    assert grams[3] == ["One. Two. Three.", "Two. Three. Four."]
    assert grams[1] == []  # fewer than n sentences -> empty


def test_badword_fraction(one, spark):
    from pinecone_datasets_spark.functions.text import badword_fraction

    bl = ["bad", "worse"]
    col = lambda t: badword_fraction(t, bl)  # noqa: E731
    assert one("all clean words here", col) == 0.0
    assert one("one bad word", col) == pytest.approx(1 / 3)
    assert one("BAD Worse bad", col) == 1.0       # case-folded
    assert one("badge embadded", col) == 0.0      # token boundaries
    assert one("", col) == 0.0
    with pytest.raises(ValueError):
        badword_fraction(F.col("t"), [])


def test_word_count_any_whitespace_separator(spark):
    """r11 review: the spaces+1 formula counted a newline-separated
    document as ONE word (silently failing the min_words gate) and
    'a  b' (double space) as three."""
    from pyspark.sql import functions as F

    from pinecone_datasets_spark.functions.text import word_count

    rows = [
        (1, "\n".join(["word"] * 10)),   # newline-separated: 10
        (2, "a  b"),                       # run of spaces: 2
        (3, "a\tb\r\nc"),                  # mixed: 3
        (4, "   "),                        # whitespace only: 0
        (5, ""),                           # empty: 0
        (6, "one two three"),              # plain: 3
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: r["n"]
        for r in df.select("id", word_count("text").alias("n")).collect()
    }
    assert got == {1: 10, 2: 2, 3: 3, 4: 0, 5: 0, 6: 3}, got
