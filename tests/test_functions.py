"""Unit tests for the shared scalar semantics (no Spark needed)."""

from sling_spark.functions.fingerprint import (
    FP_SKIPPED,
    fingerprint_cat,
    phrase_fp,
    token_fp,
)
from sling_spark.functions.normalize import (
    CASE_LOWER,
    CASE_NONE,
    CASE_TITLE,
    CASE_UPPER,
    case_form,
    normalize_phrase,
)
from sling_spark.functions.tokenize import (
    BREAK_PARAGRAPH,
    BREAK_SENTENCE,
    phrase_fingerprint,
    sentences,
    tokenize,
)


def test_normalize_case_and_diacritics():
    assert normalize_phrase("Érdekes") == "erdekes"
    assert normalize_phrase("J.F.K.") == "jfk"
    assert normalize_phrase("O'Neill") == "oneill"
    assert normalize_phrase("  a\t b ") == "a b"


def test_case_forms():
    assert case_form("spark") == CASE_LOWER
    assert case_form("SPARK") == CASE_UPPER
    assert case_form("Spark") == CASE_TITLE
    assert case_form("PySpark") == CASE_NONE
    assert case_form("123") == CASE_NONE


def test_token_fp_never_zero_and_case_insensitive():
    assert token_fp("Spark") == token_fp("SPARK") == token_fp("spark")
    assert token_fp(".") == FP_SKIPPED
    assert token_fp("...") == FP_SKIPPED
    assert token_fp("x") not in (0, 1)


def test_fingerprint_cat_order_sensitive():
    a, b = token_fp("new"), token_fp("york")
    assert fingerprint_cat(a, b) != fingerprint_cat(b, a)
    assert phrase_fp(["new", "york"]) != phrase_fp(["york", "new"])
    # single-token phrase == token fp (phrase-table lookup invariant)
    assert phrase_fp(["Spark"]) == token_fp("spark")


def test_tokenizer_offsets_and_breaks():
    text = "# uses Spark\n\ndef f(x):\n    return x\n"
    toks = tokenize(text)
    words = [t.word for t in toks]
    assert words == ["#", "uses", "Spark", "def", "f", "(", "x", ")", ":", "return", "x"]
    # offsets point back into the text
    for t in toks:
        assert text[t.begin : t.end] == t.word
    # paragraph break after the blank line
    d = {t.word: t for t in toks}
    assert d["def"].brk == BREAK_PARAGRAPH
    assert d["return"].brk == BREAK_SENTENCE
    assert toks[0].brk == 0
    # line-based sentence units
    assert sentences(toks) == [(0, 3), (3, 9), (9, 11)]


def test_phrase_fingerprint_matches_span_fp():
    # "Node.js" under the code tokenizer = [Node][.][js]; the alias fp
    # must equal the fp a corpus span computes token-by-token
    toks = tokenize("uses Node.js here")
    node = [t for t in toks if t.word == "Node"][0]
    js = [t for t in toks if t.word == "js"][0]
    assert phrase_fingerprint("Node.js") == fingerprint_cat(node.fp, js.fp)
    assert phrase_fingerprint("Apache Spark") == phrase_fp(["apache", "spark"])


def test_parse_number_reference_semantics():
    from sling_spark.functions.numbers import (
        is_year,
        parse_number,
        parse_number_format,
        quantity,
    )

    # separator-aware grouping (mentions.cc:590-655)
    assert parse_number("1,234,567", ",", ".") == 1234567
    assert parse_number("12,34,567", ",", ".") == 1234567  # Indian 2-digit lakh groups
    assert parse_number("1,23", ",", ".") is None           # last group must be 3
    assert parse_number("1,2345", ",", ".") is None
    assert parse_number("-42", ",", ".") == -42
    assert parse_number("+3.5", ",", ".") == 3.5
    # digit-accumulation float math, faithful to the reference's parser
    # (value*10+digit, scale/=10) — 1 ulp off the correctly-rounded parse
    assert abs(parse_number("3.14159", ",", ".") - 3.14159) < 1e-12
    assert parse_number("1.234", ".", ",") == 1234          # STANDARD: dot groups
    assert parse_number("", ",", ".") is None
    assert parse_number("abc", ",", ".") is None
    assert parse_number("12 345", " ", ".", " ") == 12345   # NORWEGIAN
    # decimal milli-groups must be exactly 3
    assert abs(parse_number("1.234 567", " ", ".", " ") - 1.234567) < 1e-12
    assert parse_number("1.23 45", " ", ".", " ") is None
    # int vs float handle semantics
    assert isinstance(parse_number("7", ",", "."), int)
    assert isinstance(parse_number("7.0", ",", "."), float)
    assert isinstance(parse_number(str(1 << 40), ",", "."), float)  # beyond int handle

    # format fallback (mentions.cc:657-675)
    assert parse_number_format("1.234", "IMPERIAL") == 1.234
    assert parse_number_format("1.234", "STANDARD") == 1234
    assert parse_number_format("1,234", "IMPERIAL") == 1234
    assert parse_number_format("1,5", "IMPERIAL") == 1.5    # falls through to alt seps

    # year rule (mentions.cc:570-585)
    assert is_year("1999") and is_year("1582") and is_year("2038")
    assert not is_year("1581") and not is_year("2039") and not is_year("999")

    units = {"kg": "Q11570", "$": "Q4917"}
    assert quantity("12 kg", units) == (12, "Q11570")
    assert quantity("$ 9.99", units) == (9.99, "Q4917")
    assert quantity("12 lightyears", units) is None


def test_number_expr_matches_scalar(spark):
    from pyspark.sql import functions as F

    from sling_spark.functions.numbers import number_expr, parse_number_format

    samples = [
        "1,234,567", "12,34,567", "1,23", "42", "-42", "+3.5", "3.14159",
        "1.234", "1.2345", "7.0", "0", "007", "1,2345", "abc", "1.2.3",
        "12.", "-0.5", "1,234.5", "1.234,5",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    for fmt in ("IMPERIAL", "STANDARD"):
        got = {
            r["s"]: r["v"]
            for r in df.select("s", number_expr(F.col("s"), fmt).alias("v")).collect()
        }
        for s in samples:
            want = parse_number_format(s, fmt)
            if want is None:
                assert got[s] is None, (fmt, s, got[s])
            else:
                # the Catalyst twin casts the cleaned string (correctly
                # rounded); the scalar accumulates digits like the
                # reference — equal up to 1 ulp
                assert abs(got[s] - float(want)) < 1e-9 * max(1.0, abs(got[s])), (
                    fmt, s, got[s], want,
                )


def test_lex_render_and_parse_roundtrip():
    from sling_spark.functions.lex import parse_lex, to_lex

    words = ["Apache", "Spark", "uses", "the", "JVM", "&", "[arrays]", "."]
    brks = [0, 1, 1, 1, 1, 1, 1, 1]
    spans = [(0, 2, "Q1"), (4, 5, "Q2")]
    lex = to_lex(words, brks, spans)
    assert lex == "[Apache Spark|Q1] uses the [JVM|Q2] &#38; &#91;arrays&#93; ."
    text, parsed = parse_lex(lex)
    assert text == "Apache Spark uses the JVM & [arrays] ."
    # spans are byte offsets into the plain text
    assert [(text[b:e], ref) for b, e, ref in parsed] == [
        ("Apache Spark", "Q1"),
        ("JVM", "Q2"),
    ]
    # break-level separators: paragraph and sentence
    assert to_lex(["a", "b", "c"], [0, 2, 3], []) == "a  b\n\nc"
    # token rewrites
    assert to_lex(["``", "hi", "''"], [0, 1, 1], []) == "“ hi ”"


def test_render_lex_over_pipeline(spark):
    from sling_spark.functions.lex import parse_lex, render_lex
    from sling_spark.kg.pipeline import run_pipeline
    from sling_spark.sources.corpus import corpus_df

    res = run_pipeline(spark, corpus_df(spark, 20))
    lex_df = render_lex(res["documents"], res["mentions"])
    rows = lex_df.collect()
    assert len(rows) == res["documents"].count()
    # every document with mentions renders brackets that parse back
    n_mentions = res["mentions"].count()
    total_spans = 0
    for r in rows:
        _text, spans = parse_lex(r["lex"])
        total_spans += len(spans)
        for _b, _e, ref in spans:
            # entity refs (Q/P ids) or literal date/number/measure values
            assert (
                ref.startswith(("Q", "P"))
                or ref == ""
                or ref[0].isdigit()
                or ref[0] == "-"
            ), ref
    assert total_spans == n_mentions


def test_to_html_anchors():
    from sling_spark.functions.lex import to_html

    h = to_html(["Apache", "Spark", "&", "x"], [0, 1, 1, 3], [(0, 2, "Q1")])
    assert h == '<a ref="Q1">Apache Spark</a> &#38;<p>x'


def test_subword_tokenizer():
    """Greedy longest-prefix wordpiece (subword-tokenizer.cc:54-106):
    whole-word fast path, leading/trailing (##) lexicons, punctuation
    splitting, OOV contract (-1 + [UNK] when nothing matched)."""
    from sling_spark.functions.subword import SubwordTokenizer

    vocab = ["[UNK]", "spark", "py", "##spark", "##s", "##ing", "run",
             "##n", ".", "un"]
    t = SubwordTokenizer(vocab)
    assert t.tokenize("spark") == (1, [vocab.index("spark")])
    n, ids = t.tokenize("pyspark")
    assert n == 2 and [vocab[i] for i in ids] == ["py", "##spark"]
    n, ids = t.tokenize("sparks")
    assert [vocab[i] for i in ids] == ["spark", "##s"]
    n, ids = t.tokenize("running")
    assert [vocab[i] for i in ids] == ["run", "##n", "##ing"]
    # punctuation split: '.' matches as leading even mid-word
    n, ids = t.tokenize("spark.py")
    assert [vocab[i] for i in ids] == ["spark", ".", "py"]
    # OOV: -1 with [UNK] when nothing matched at all
    n, ids = t.tokenize("zzz")
    assert n == -1 and ids == [0]
    # partial match then OOV: -1, keeps matched prefix
    n, ids = t.tokenize("sparkzzz")
    assert n == -1 and [vocab[i] for i in ids] == ["spark"]
    assert t.tokenized_word("pyspark") == "py##spark"


def test_subword_counts_spark(spark):
    from sling_spark.functions.subword import subword_counts

    df = spark.createDataFrame(
        [("a", "spark pyspark zzz"), ("b", "run running")],
        "doc_id string, content string",
    )
    vocab = ["[UNK]", "spark", "py", "##spark", "run", "##n", "##ing"]
    got = {r["doc_id"]: (r["n_subwords"], r["n_oov"])
           for r in subword_counts(df, vocab).collect()}
    assert got == {"a": (4, 1), "b": (4, 0)}


def test_parse_lex_malformed_pipe_degrades_to_text():
    """A '|' with no closing ']' is malformed LEX: it must render as
    literal text, not raise and abort the Arrow batch."""
    from sling_spark.functions.lex import parse_lex

    text, spans = parse_lex("abc|def no bracket")
    assert text == "abc|def no bracket" and spans == []


def test_parse_number_reference_boundary():
    """ParseNumber accepts a bare sign/separator as 0 exactly like the
    reference (mentions.cc:590-655) — the digit guard lives at the
    ANNOTATOR (mentions.cc:559-568). The tokenizer makes that guard
    structural: any token containing a digit fully matches the
    annotator prefilter, so digit-free strings never reach the parse."""
    import re

    from sling_spark.functions.numbers import parse_number_format
    from sling_spark.functions.tokenize import tokenize

    assert parse_number_format("-") == 0
    assert parse_number_format("+") == 0
    assert parse_number_format(".") == 0.0
    guard = re.compile(r"\d+(\.\d+)?\Z")
    for tok in tokenize("x = -5 + 1,234.5 or .7; total: 2.038"):
        if any(c.isdigit() for c in tok.word):
            assert guard.match(tok.word), tok.word
