"""BPE merge learning: exact-Python-model equivalence (hypothesis),
the classic worked example, determinism, and apply-side greediness --
each equivalence on both the distributed loop and the driver route."""

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.bpe import (
    EOW,
    apply_bpe_merges,
    learn_bpe_merges,
)

from conftest import on_both_routes


def py_bpe(word_freqs: dict[str, int], n_merges: int):
    """Exact reference model: Sennrich's algorithm with the engine's
    deterministic tie-break (count desc, (left, right) asc)."""
    words = {tuple(list(w) + [EOW]): f for w, f in word_freqs.items()}
    merges = []
    for rank in range(n_merges):
        pc: Counter = Counter()
        for syms, f in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, n))
        new: dict = {}
        for syms, f in words.items():
            out = [syms[0]]
            for x in syms[1:]:
                if out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            new[tuple(out)] = new.get(tuple(out), 0) + f
        words = new
    return merges


def py_apply(word: str, merges: list[tuple[str, str]]):
    syms = list(word) + [EOW]
    for a, b in merges:
        out = [syms[0]]
        for x in syms[1:]:
            if out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        syms = out
    return syms


@pytest.mark.slow
def test_bpe_classic_worked_example(spark):
    """The Sennrich paper's example corpus must learn es -> est ->
    est</w> -> lo -> low first (the published order under a
    deterministic tie-break)."""
    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got, local = on_both_routes(
        lambda: [
            (r.rank, r.left, r.right, r.merged, r.pair_freq)
            for r in learn_bpe_merges(docs, n_merges=5).orderBy("rank").collect()
        ]
    )
    assert local == got
    assert got == [
        (0, "e", "s", "es", 9),
        (1, "es", "t", "est", 9),
        (2, "est", EOW, "est" + EOW, 9),
        (3, "l", "o", "lo", 7),
        (4, "lo", "w", "low", 7),
    ]


@pytest.mark.slow
@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(
        st.text(alphabet="abcd", min_size=1, max_size=5),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_bpe_matches_python_model(spark, word_freqs, n_merges):
    """Property: on ANY corpus the engine's merge table equals the
    exact Python model's -- same pairs, same order, same counts (the
    r7/r9 discipline: hypothesis-vs-exact-model has caught real bugs
    in every iterative operator that shipped with it)."""
    text = " ".join(w for w, f in sorted(word_freqs.items()) for _ in range(f))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got, local = on_both_routes(
        lambda: [
            (r.rank, r.left, r.right, r.merged, r.pair_freq)
            for r in learn_bpe_merges(docs, n_merges=n_merges)
            .orderBy("rank")
            .collect()
        ]
    )
    assert got == py_bpe(word_freqs, n_merges)
    assert local == got


def test_bpe_apply_matches_python_and_is_greedy(spark):
    """Apply-side: left-to-right greedy ('aaa' + (a,a) -> ['aa','a'],
    never ['a','aa']), and every word's subword array equals the
    Python model's under a 4-merge table."""
    corpus = "aaa aab abab banana bandana"
    docs = spark.createDataFrame([(1, corpus)], "doc_id long, text string")
    merges_df = learn_bpe_merges(docs, n_merges=4).orderBy("rank").collect()
    merges = [(r.left, r.right) for r in merges_df]
    out, local = on_both_routes(
        lambda: {
            tuple(r.bpe_tokens)
            for r in apply_bpe_merges(docs, merges).select("bpe_tokens").collect()
        }
    )
    want = {tuple(py_apply(w, merges)) for w in corpus.split()}
    assert out == want
    assert local == out
    direct, direct_local = on_both_routes(
        lambda: {
            tuple(r.bpe_tokens)
            for r in apply_bpe_merges(
                spark.createDataFrame([(1, "aaa")], "doc_id long, text string"),
                [("a", "a")],
            ).collect()
        }
    )
    assert direct == direct_local == {("aa", "a", EOW)}


@pytest.mark.slow
def test_bpe_merges_query_contract(spark):
    """The driver entry (oracle-paired since r14): 16 rows,
    rank-ordered, deterministic across runs, monotone non-increasing
    pair frequency is NOT required (merges create new pairs) but every
    frequency is positive."""
    import __spark_entry__ as entry

    q = entry.queries()["bpe_merges"]
    rows = q(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 16
    assert [r.rank for r in rows] == list(range(16))
    assert all(r.pair_freq > 0 for r in rows)
    assert all(r.merged == r.left + r.right for r in rows)
    assert rows == q(spark, "/root/testdata/sf0.001").collect()


@pytest.mark.slow
def test_bpe_oracle_replace_equals_greedy_on_runs(spark):
    """The r14 oracle's load-bearing trick: over a DOUBLE-separator
    symbol string, one replace('|a||b|' -> '|ab|') IS the greedy
    left-to-right non-overlapping fold. Runs are the adversarial case
    -- a SINGLE-separator encoding diverges on them ([a x 6] merges as
    [aa,a,aa,a] instead of greedy's [aa,aa,aa] because abutting
    matches share the boundary bar). Pin the full 16-round unrolled
    oracle against the Spark fold on run-heavy crafted corpora."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["bpe_merges"]
    corpora = [
        "aaaa aaa aa abab aab bbaa abba aaaaaaa aaaaaaa",
        "xyxyxy xxyy yxxy xyyx xyxyxy xxyy",
        "aaaaaa bbb ab ba aabb bbaa aba bab",
    ]
    for text in corpora:
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        got, local = on_both_routes(
            lambda: [
                tuple(r)
                for r in learn_bpe_merges(docs, n_merges=16)
                .orderBy("rank")
                .collect()
            ]
        )
        assert local == got, text
        con = duckdb.connect()
        con.execute("CREATE TABLE documents(text VARCHAR)")
        con.execute("INSERT INTO documents VALUES (?)", [text])
        exp = [tuple(r) for r in con.execute(sql).fetchall()]
        con.close()
        assert got == exp, text


def test_bpe_stops_early_when_pairs_exhaust(spark):
    """A corpus whose vocabulary runs out of adjacent pairs must stop
    early and return only the merges that existed: 'ab' yields exactly
    (a,b) then (ab,</w>) and nothing else, no matter the budget."""
    docs = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    got, local = on_both_routes(
        lambda: [
            (r.rank, r.left, r.right)
            for r in learn_bpe_merges(docs, n_merges=10).orderBy("rank").collect()
        ]
    )
    assert got == [(0, "a", "b"), (1, "ab", EOW)]
    assert local == got


def test_bpe_empty_inputs_agree_on_both_routes(spark):
    """The corners give the same typed rows on either route: an empty
    corpus, a merge budget of 0 or less, and one-character words that
    exhaust after two merges ((a, </w>) and (b, </w>))."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    one_char = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    for docs, n in [(empty, 4), (one_char, 0), (one_char, -1), (one_char, 6)]:
        got, local = on_both_routes(
            lambda: learn_bpe_merges(docs, n_merges=n).orderBy("rank")
        )
        assert local.schema == got.schema
        assert local.collect() == got.collect()
    tok, tok_local = on_both_routes(lambda: apply_bpe_merges(empty, [("a", "b")]))
    assert tok_local.schema == tok.schema and tok.collect() == tok_local.collect() == []
