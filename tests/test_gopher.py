"""Gopher repetition metrics (text.gopher_repetition_metrics): python-model
equality, an exact DuckDB twin on the real documents table, and the
threshold flags."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from yelp_business_data_pipeline_spark.operators.text import (
    GOPHER_DUP_NGRAM_THRESHOLDS,
    GOPHER_TOP_NGRAM_THRESHOLDS,
    gopher_repetition_flags,
    gopher_repetition_metrics,
)

SF_DIR = "/root/testdata/sf0.001"


def _model(text, top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10)):
    text = text or ""
    words = [w for w in text.split(" ") if w]
    pref = [0]
    for w in words:
        pref.append(pref[-1] + len(w))
    row = {"n_words": len(words), "total_word_chars": pref[-1]}
    for n in top_ns + dup_ns:
        counts, chars = Counter(), {}
        for i in range(len(words) - n + 1):
            g = tuple(words[i : i + n])
            counts[g] += 1
            chars.setdefault(g, pref[i + n] - pref[i])
        if n in top_ns:
            row[f"top_{n}gram_chars"] = max(
                (c * chars[g] for g, c in counts.items()), default=0
            )
        else:
            row[f"dup_{n}gram_chars"] = sum(
                c * chars[g] for g, c in counts.items() if c > 1
            )
    lines = text.split("\n")
    lc = Counter(lines)
    row["n_lines"] = len(lines)
    row["dup_line_count"] = sum(c for c in lc.values() if c > 1)
    row["dup_line_chars"] = sum(c * len(l) for l, c in lc.items() if c > 1)
    row["total_line_chars"] = sum(len(l) for l in lines)
    return row


DOCS = [
    (0, "spam spam spam spam spam spam"),  # one word repeated: fails everything
    # long-enough prose: single-occurrence n-grams stay a small char
    # fraction (Gopher's repetition gates presume its length gates)
    (1, " ".join(f"word{i:02d}" for i in range(60))),
    (2, "a b a b a b a b c d e f g h i j k l"),  # heavy 2-gram repetition
    (3, "line one\nline two\nline one\nline three\nline one"),  # dup lines
    (4, ""),  # empty
    (5, "single"),  # shorter than any n
    (6, None),  # null text
    (7, "x y z " * 4 + "p q r s t u v w"),  # trailing space -> empty segment
]


def test_matches_python_model(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict() for r in gopher_repetition_metrics(df).collect()
    }
    assert set(got) == {d for d, _ in DOCS}
    for doc_id, text in DOCS:
        want = _model(text)
        for k, v in want.items():
            assert got[doc_id][k] == v, (doc_id, k)


def test_duckdb_twin_on_documents_table(spark):
    """The n-gram counters over the REAL documents table must match an
    independent DuckDB construction exactly (integers — no float drift)."""
    duckdb = pytest.importorskip("duckdb")
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_repetition_metrics(df).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    for n, agg in ((2, "top"), (3, "top"), (4, "top"), (5, "dup"), (7, "dup")):
        expr = (
            "coalesce(max(cnt * chars), 0)"
            if agg == "top"
            else "coalesce(sum(case when cnt > 1 then cnt * chars else 0 end), 0)"
        )
        rows = con.execute(
            f"""
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split(coalesce(text, ''), ' '),
                                 x -> x <> '') AS ws
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, greatest(len(ws) - {n} + 1, 0) + 1),
                       i -> array_to_string(ws[i:i+{n}-1], ' '))) AS gram
              FROM w
            ),
            c AS (
              SELECT doc_id, gram, count(*) AS cnt,
                     length(replace(gram, ' ', '')) AS chars
              FROM g GROUP BY doc_id, gram
            )
            SELECT w.doc_id, {expr}
            FROM w LEFT JOIN c ON w.doc_id = c.doc_id
            GROUP BY w.doc_id
            """
        ).fetchall()
        col = f"{agg}_{n}gram_chars"
        assert len(rows) == len(got)
        for doc_id, want in rows:
            assert got[doc_id][col] == want, (doc_id, col)
    # word totals too
    rows = con.execute(
        """
        SELECT doc_id,
               len(list_filter(string_split(coalesce(text,''), ' '),
                               x -> x <> '')),
               length(replace(coalesce(text,''), ' ', ''))
        FROM documents
        """
    ).fetchall()
    for doc_id, n_words, chars in rows:
        assert got[doc_id]["n_words"] == n_words
        assert got[doc_id]["total_word_chars"] == chars


def test_flags_thresholds(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    m = gopher_repetition_metrics(df)
    flagged = {
        r["doc_id"]: r["ok"]
        for r in m.select(
            "doc_id", gopher_repetition_flags().alias("ok")
        ).collect()
    }
    assert flagged[0] is False  # "spam" x6: top-2gram mass ~ everything
    assert flagged[1] is True  # normal prose passes
    assert flagged[2] is False  # a-b loop: top 2-gram over 20%
    assert flagged[4] is True  # empty doc passes (0 <= thr * 0)
    assert flagged[5] is True  # single word: no n-grams at all
    # thresholds dicts stay aligned with the flag builder's expectations
    assert set(GOPHER_TOP_NGRAM_THRESHOLDS) == {2, 3, 4}
    assert set(GOPHER_DUP_NGRAM_THRESHOLDS) == {5, 6, 7, 8, 9, 10}


def test_invalid_ns(spark):
    df = spark.createDataFrame(DOCS[:1], "doc_id long, text string")
    with pytest.raises(ValueError, match="distinct"):
        gopher_repetition_metrics(df, top_ns=(2, 3), dup_ns=(3, 5))
    with pytest.raises(ValueError, match=">= 1"):
        gopher_repetition_metrics(df, top_ns=(0,), dup_ns=(5,))


def test_flags_ns_outside_published_thresholds(spark):
    """metrics accepts arbitrary n; flags must reject n values with no
    threshold via ValueError (not a bare KeyError) unless the caller
    supplies a thresholds mapping."""
    with pytest.raises(ValueError, match="no threshold for top n=5"):
        gopher_repetition_flags(top_ns=(5,), dup_ns=())
    with pytest.raises(ValueError, match="no threshold for dup n=11"):
        gopher_repetition_flags(top_ns=(), dup_ns=(11,))
    # explicit thresholds unlock non-published n values end to end
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    m = gopher_repetition_metrics(df, top_ns=(5,), dup_ns=(11,))
    flagged = {
        r["doc_id"]: r["ok"]
        for r in m.select(
            "doc_id",
            gopher_repetition_flags(
                top_ns=(5,), dup_ns=(11,), thresholds={5: 0.15, 11: 0.10}
            ).alias("ok"),
        ).collect()
    }
    assert flagged[0] is False  # "spam" x6 still fails a top-5gram gate
    assert flagged[1] is True
    # an override for a published n wins over the table
    loose = gopher_repetition_flags(top_ns=(2,), dup_ns=(), thresholds={2: 1.0})
    flagged2 = {
        r["doc_id"]: r["ok"]
        for r in gopher_repetition_metrics(df)
        .select("doc_id", loose.alias("ok"))
        .collect()
    }
    assert flagged2[2] is True  # the a-b loop passes at threshold 1.0


def test_numpy_kernel_equals_python_reference():
    """The batch-vectorized kernel (packed incremental gram ids, segment
    reduces) must equal the Counter reference integer-for-integer on
    adversarial shapes and fuzz, for published and custom n sets. Pure
    python-level pin (no Spark) so failures localize to the kernel."""
    import random

    from yelp_business_data_pipeline_spark.operators.text import (
        _gopher_rows_numpy,
        _gopher_rows_python,
    )

    cases = [t for _d, t in DOCS] + [
        "  double  spaces  here ",
        "\n\n\n",
        "samedoc samedoc",
        "x" * 300,  # one giant word, no spaces
    ]
    rng = random.Random(77)
    vocab = ["aa", "bb", "cc", "dd", "e", "ff\n", "gg"]
    for _ in range(60):
        cases.append(
            " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 30)))
        )
    for top, dup in (((2, 3, 4), (5, 6, 7, 8, 9, 10)), ((1,), (3,)), ((7,), ())):
        a = _gopher_rows_python(cases, top, dup)
        b = _gopher_rows_numpy(cases, top, dup)
        assert set(a) == set(b)
        for c in a:
            assert list(a[c]) == [int(v) for v in b[c]], (top, dup, c)


def test_top_token_ratio_run_length_equals_count_form(spark):
    """r13: top_token_ratio's sorted run-length fold (O(n log n)/doc) must
    produce EXACTLY the r12 O(distinct x n) count-per-distinct-token
    form — real corpus plus the edge population (NULL -> NULL, empty
    string -> 1.0, all-same, all-distinct, repeated spaces) — and match
    a python Counter model."""
    from yelp_business_data_pipeline_spark.operators import text as tx

    def count_form(text):
        toks = F.split(text, " ")
        counts = F.transform(
            F.array_distinct(toks),
            lambda t: F.size(F.filter(toks, lambda x: x == t)),
        )
        return F.round(F.array_max(counts).cast("double") / F.size(toks), 6)

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (100001, None),
            (100002, ""),
            (100003, "a a a a"),
            (100004, "w x y z"),
            (100005, "x  x  x"),  # double spaces -> empty tokens count too
            (100006, "b a b a b"),
        ],
        "doc_id long, text string",
    )
    df = d.unionAll(edge)
    rows = df.select(
        "doc_id",
        "text",
        tx.top_token_ratio(F.col("text")).alias("new"),
        count_form(F.col("text")).alias("old"),
    ).collect()
    assert rows
    for r in rows:
        assert r.new == r.old, (r.doc_id, r.new, r.old)
        if r.text is None:
            assert r.new is None
        else:
            toks = r.text.split(" ")
            expect = round(max(Counter(toks).values()) / len(toks), 6)
            assert r.new == pytest.approx(expect, abs=0), r.doc_id
