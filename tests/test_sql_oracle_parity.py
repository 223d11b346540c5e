"""The q34 SQL restatement (queries/extraction_queries._extract_sql_cte)
vs the pure-Python oracle, row by row, on adversarial inputs — the
strongest check on the newest moving part: every mode, whitespace
corner cases, unicode, empty/null, marker edge cases."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from htrtf_spark import charset as cs
from htrtf_spark import oracle
from htrtf_spark.queries import extraction_queries as EQ

CASES = [
    None,
    "",
    "   ",
    " \t 　 ",                       # exotic whitespace only
    "plain text here",
    "  leading and trailing  ",
    "[CTC]aab_bb__cc",
    "[CTC]",                                   # empty payload
    "[CTC]___",                                # all blanks
    "[CTC]x|x",                                # sep inside stream
    "|word|another|",                          # IAM
    "||",                                      # empty IAM stream
    "|one|",                                   # single word
    "|has space|bad|",                         # NOT IAM (space → plain)
    "a-b-c",                                   # washington
    "h-e-l-l-o-|-w-o-r-l-d",                   # wash with sep
    "<div>hello</div>",                        # DOM
    "<nav>menu</nav>\ncontent line\n<a href='x'>lots of link</a>",
    "<p>text</p>\n\n<script>js</script>\nplain tail",
    "<a href=q>xxxxxxxxxx</a>y",               # high link density line
    "text with € and 語 unicode",
    "[CTC]aa€€bb",                             # out-of-charset in ctc
    "<b>１２３</b>\nok line",
    "a​ b",                               # zero-width (not ws)
    "x" * 5000,                                # long plain
    "-",                                       # not wash (single dash)
    "a-",                                      # not wash (trailing dash)
    "| |",                                # IAM?: nbsp is ws → plain
    "<asİde>x",                                # (?i) folds İ: boilerplate
    "<SCRİPT>x",                               # boilerplate
    "<aé>zz</a>",                              # \b is Unicode: no anchor
    "<b>k</b>\n<navé menu",                    # \b: <navé is kept
    "<nav\u0301>x",                            # combining mark: boilerplate
]


def test_sql_cte_matches_python_oracle(tmp_path):
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(len(CASES))],
            "turn_idx": list(range(len(CASES))),
            "role": ["user"] * len(CASES),
            "text": CASES,
        }
    )
    path = str(tmp_path / "in.parquet")
    pdf.to_parquet(path)

    sql = f"WITH {EQ._extract_sql_cte()} SELECT * FROM extracted ORDER BY turn_idx"
    sql = sql.replace(f"'{EQ._Q34_INPUT}/*.parquet'", f"'{path}'")
    con = duckdb.connect()
    got = con.execute(sql).fetchdf()

    assert len(got) == len(CASES)
    for i, text in enumerate(CASES):
        ex = oracle.extract_turn(text)
        row = got[got["turn_idx"] == i].iloc[0]
        assert row["mode"] == ex.mode, (i, text)
        sql_text = row["extracted_text"]
        sql_text = None if pd.isna(sql_text) else sql_text
        assert sql_text == ex.text, (i, text, sql_text, ex.text)
        sql_rej = row["reject_reason"]
        sql_rej = None if pd.isna(sql_rej) else sql_rej
        assert sql_rej == ex.reject_reason, (i, text)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st_

    _alph = st_.sampled_from(
        list("ab|_- <>\nxz.") + ["[CTC]", "<div>", "</div>", "<nav>", "　", "\t"]
    )

    @settings(max_examples=120, deadline=None)
    @given(parts=st_.lists(_alph, min_size=0, max_size=24))
    def test_fuzz_sql_vs_python_oracle(parts, tmp_path_factory):
        text = "".join(parts)
        d = tmp_path_factory.mktemp("sqlfuzz")
        path = str(d / "in.parquet")
        pd.DataFrame(
            {"conv_id": ["c"], "turn_idx": [0], "role": ["user"],
             "text": [text]}
        ).to_parquet(path)
        sql = f"WITH {EQ._extract_sql_cte()} SELECT * FROM extracted"
        sql = sql.replace(f"'{EQ._Q34_INPUT}/*.parquet'", f"'{path}'")
        row = duckdb.connect().execute(sql).fetchdf().iloc[0]
        ex = oracle.extract_turn(text)
        assert row["mode"] == ex.mode, text
        sql_text = None if pd.isna(row["extracted_text"]) else row["extracted_text"]
        assert sql_text == ex.text, (text, sql_text, ex.text)

except ImportError:  # pragma: no cover
    pass


def test_substr_spans_cte_fuzz_vs_brute():
    """The q96/q97/q101 span CTE (queries/dedup.substr_spans_cte) vs an
    independent Python brute force on randomized corpora with planted
    cross-doc and intra-doc repeats — direct DuckDB, no Spark, so the
    oracle itself is hardened, not just its agreement with Spark."""
    import random

    import duckdb

    from htrtf_spark.queries.dedup import substr_spans_cte
    from tests.test_substr_dedup import _brute_spans

    rng = random.Random(99)
    alpha = "abcdef "
    for trial in range(25):
        L = rng.choice([3, 5, 8])
        n_docs = rng.randint(2, 6)
        docs = {}
        boiler = "".join(rng.choice(alpha) for _ in range(rng.randint(L, 3 * L)))
        for d in range(n_docs):
            body = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40)))
            if rng.random() < 0.7:  # plant the shared run somewhere
                cut = rng.randint(0, len(body))
                body = body[:cut] + boiler + body[cut:]
            if rng.random() < 0.3:  # intra-doc repeat
                body = body + body[: rng.randint(0, len(body))]
            docs[d] = body
        con = duckdb.connect()
        con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", list(docs.items()))
        got = set(
            map(tuple, con.execute(
                f"WITH {substr_spans_cte('documents', 'text', L)} "
                "SELECT doc_id, span_start, span_end, "
                "span_end - span_start FROM spans"
            ).fetchall())
        )
        want = _brute_spans(docs, L)
        assert got == want, f"trial {trial} L={L} docs={docs}"
        con.close()
