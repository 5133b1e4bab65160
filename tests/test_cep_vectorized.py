"""Row-local DEFINE vectorization (operators/cep.py `_define_bitmaps`)
must be invisible: same accept/reject decisions as the scalar
evaluator on every row, and identical end-to-end MATCH_RECOGNIZE
output with the bitmaps force-disabled."""

import random

import pandas as pd
import pytest

from flink_streaming_platform_web_spark.operators import cep
from flink_streaming_platform_web_spark.operators.cep import (
    _define_bitmaps,
    _match_ctx,
    _vector_define,
    _xlate,
    parse_match_recognize,
)


def test_vectorizable_shapes():
    for sql, var in [
        ("UP.v > PREV(UP.v)", "UP"),
        ("DOWN.v < PREV(DOWN.v) AND DOWN.v > 10", "DOWN"),
        ("A.v >= 100 OR A.w < 0", "A"),
        ("B.v > PREV(B.v, 2)", "B"),
        ("C.v = 5", "C"),
        ("D.v <> 5 AND NOT D.v > 50", "D"),
        ("E.v + PREV(E.v) > 100", "E"),
        # PREV is a PHYSICAL offset (SQL/RPR): another var's column
        # under PREV is still row-local
        ("L.v > PREV(M.v)", "L"),
    ]:
        assert _vector_define(_xlate(sql), var) is not None, sql


def test_context_dependent_shapes_reject():
    for sql, var in [
        ("G.v > FIRST(G.v)", "G"),
        ("H.v > LAST(A.v)", "H"),
        ("COUNT(I.*) < 3", "I"),
        ("J.v > AVG(J.v)", "J"),
        ("CLASSIFIER() = 'X'", "K"),
        ("N.v > A.v", "N"),  # bare other-var ref = LAST(A.v)
    ]:
        assert _vector_define(_xlate(sql), var) is None, sql


def _scalar(rows, src, var, idx):
    code = compile(src, "<define>", "eval")
    try:
        return bool(
            eval(code, {"__builtins__": {}},
                 _match_ctx(rows, 0, [], idx, var))
        )
    except TypeError:
        return False


def test_bitmap_equals_scalar_randomized():
    """Point-for-point differential incl. NaN/NaT/head-shift edges."""
    rng = random.Random(7)
    cases = [
        ("UP.v > PREV(UP.v)", "UP"),
        ("DOWN.v < PREV(DOWN.v) AND DOWN.v > 10", "DOWN"),
        ("A.v >= 100 OR A.w < 0", "A"),
        ("B.v > PREV(B.v, 2)", "B"),
        ("D.v <> 5 AND NOT D.v > 50", "D"),
        ("F.v > PREV(F.v) AND F.ts > PREV(F.ts)", "F"),
    ]
    checked = 0
    for sql, var in cases:
        src = _xlate(sql)
        spec = parse_match_recognize(
            f"PARTITION BY k ORDER BY ts MEASURES LAST({var}.v) AS lv"
            f" ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
            f" PATTERN ({var}+) DEFINE {var} AS {sql}"
        )
        for _ in range(40):
            n = rng.randint(1, 30)
            rows = [
                {
                    "v": float("nan") if rng.random() < 0.15
                    else rng.uniform(-50, 150),
                    "w": rng.uniform(-10, 10),
                    "ts": pd.Timestamp("2024-01-01")
                    + pd.Timedelta(seconds=i),
                }
                for i in range(n)
            ]
            bms = _define_bitmaps(rows, spec, pd.DataFrame(rows))
            assert var in bms, f"did not vectorize: {sql}"
            for idx in range(n):
                assert bool(bms[var][idx]) == _scalar(
                    rows, src, var, idx
                ), f"{sql} idx={idx}"
                checked += 1
    assert checked > 1000


def test_object_dtype_falls_back():
    spec = parse_match_recognize(
        "PARTITION BY k ORDER BY ts MEASURES LAST(A.s) AS ls"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A+) DEFINE A AS A.s > PREV(A.s)"
    )
    rows = [{"s": c, "ts": i} for i, c in enumerate("abcab")]
    assert _define_bitmaps(rows, spec, pd.DataFrame(rows)) == {}


def test_streaming_small_buffer_skips_build():
    spec = parse_match_recognize(
        "PARTITION BY k ORDER BY ts MEASURES LAST(A.v) AS lv"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A+) DEFINE A AS A.v > 0"
    )
    rows = [{"v": 1.0, "ts": i} for i in range(10)]
    assert _define_bitmaps(rows, spec) == {}  # < 64, no frame given
    big = [{"v": 1.0, "ts": i} for i in range(64)]
    assert "A" in _define_bitmaps(big, spec)


def test_bitmap_matcher_differential_vs_regex():
    """The flat-grammar regex differential (test_cep.py runs it with
    frame=None, where sub-64-row buffers skip the bitmap build)
    re-run THROUGH the bitmap path: frame passed explicitly bypasses
    the size gate, so the disjoint value-band defines all vectorize,
    and every match extent must still equal Python's regex spans
    under the same SKIP PAST LAST ROW scan. Buffers stay at the flat
    differential's 8-25 rows — greedy backtracking over wildcard-
    heavy random patterns is exponential in buffer length, and the
    bitmap path is fully exercised regardless of size."""
    import re as _re

    rng = random.Random(4242)
    quants = ["", "+", "*", "?", "+?", "*?", "??",
              "{2}", "{2,}", "{1,3}", "{1,3}?"]

    def letter(v):
        return "a" if v < 3 else ("b" if v < 7 else "c")

    def rand_element():
        vars_ = rng.sample(["S", "A", "B", "C"], rng.randint(1, 2))
        q = rng.choice(quants)
        if len(vars_) == 1:
            return vars_[0] + q, (vars_[0], q)
        return "(" + "|".join(vars_) + ")" + q, (tuple(vars_), q)

    def to_regex(vars_, q):
        def ch(v):
            return "." if v == "S" else {"A": "a", "B": "b", "C": "c"}[v]

        if isinstance(vars_, str):
            body = ch(vars_)
        elif len(vars_) == 1:
            body = ch(vars_[0])
        else:
            body = "(?:" + "|".join(ch(v) for v in vars_) + ")"
        return body + q

    for _ in range(300):
        n_el = rng.randint(2, 5)
        elements = [rand_element() for _ in range(n_el)]
        if not any(
            q in ("", "+", "+?", "{2}", "{2,}", "{1,3}", "{1,3}?")
            for _, (_, q) in elements
        ):
            elements[rng.randrange(n_el)] = ("A+", ("A", "+"))
        pat_txt = " ".join(t for t, _ in elements)
        regex = _re.compile(
            "".join(to_regex(v, q) for _, (v, q) in elements)
        )
        vals = [
            float(rng.randint(0, 9)) for _ in range(rng.randint(8, 25))
        ]
        text = "".join(letter(v) for v in vals)
        spec = parse_match_recognize(f"""
          PARTITION BY k ORDER BY seq
          MEASURES COUNT(*) AS n
          ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
          PATTERN ({pat_txt})
          DEFINE A AS A.v < 3, B AS B.v >= 3 AND B.v < 7,
                 C AS C.v >= 7
        """)
        rows = [
            {"k": 1, "seq": i, "v": v} for i, v in enumerate(vals)
        ]
        frame = pd.DataFrame(rows)
        assert set(cep._define_bitmaps(rows, spec, frame)) == {
            "A", "B", "C"
        }
        got, _ = cep._run_matcher(rows, spec, frame)
        got_spans = [(s, e) for s, e, _, _ in got]
        ref_spans, pos = [], 0
        while pos < len(text):
            m = regex.match(text, pos)
            if m and m.end() > m.start():
                ref_spans.append((m.start(), m.end()))
                pos = m.end()
            else:
                pos += 1
        assert got_spans == ref_spans, (
            pat_txt, text, got_spans, ref_spans
        )


def test_full_matcher_identical_with_bitmaps_disabled(monkeypatch):
    """The whole matcher (greedy walk, backtracking, skip modes) over
    a mixed row-local + context-dependent DEFINE set: the vectorized
    run and a run with `_define_bitmaps` force-disabled must produce
    the identical match set. Run in-process so the disable actually
    reaches the matcher (worker re-imports would undo a monkeypatch);
    the Spark route is exercised by the q45-q53 oracle gates, which
    now run through the bitmap path."""
    rng = random.Random(11)
    clause = (
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(DOWN.ts) AS start_ts, LAST(UP.ts) AS end_ts,"
        " COUNT(DOWN.*) AS n_down"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (DOWN{2,} UP+ FLAT?)"
        " DEFINE DOWN AS DOWN.v < PREV(DOWN.v),"
        " UP AS UP.v > PREV(UP.v),"
        " FLAT AS FLAT.v > FIRST(DOWN.v)"  # context-dependent mix
    )
    spec = parse_match_recognize(clause)
    for trial in range(8):
        n = rng.randint(80, 400)
        rows = [
            {
                "k": 1,
                "ts": i,
                "v": float("nan") if rng.random() < 0.05
                else round(rng.uniform(0, 100), 2),
            }
            for i in range(n)
        ]
        frame = pd.DataFrame(rows)
        assert "DOWN" in _define_bitmaps(rows, spec, frame)
        fast = cep._match_partition(rows, spec, frame)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cep, "_define_bitmaps", lambda *a, **kw: {})
            slow = cep._match_partition(rows, spec, frame)
        assert fast == slow, f"trial {trial}"
    # and the pattern fires on at least some trials
    assert any(
        cep._match_partition(
            [
                {"k": 1, "ts": i, "v": v}
                for i, v in enumerate([5, 4, 3, 8, 9, 2, 1, 7])
            ],
            spec,
        )
    )


def test_double_prev_eq_head_rows_match_scalar():
    """ADVICE r8: ==/!= between two PREV terms at the partition head —
    scalar sees None (None == None True, None != None False) while an
    unpatched elementwise path sees NaN (inverted). The bitmap builder
    must replay the scalar evaluator on the head rows."""
    for op in ("<>", "="):
        clause = (
            "PARTITION BY k ORDER BY ts"
            " MEASURES V.a AS a ONE ROW PER MATCH"
            " AFTER MATCH SKIP PAST LAST ROW PATTERN (V)"
            f" DEFINE V AS PREV(V.a) {op} PREV(V.b, 2)"
        )
        spec = parse_match_recognize(clause)
        rows = [
            {"k": 1, "ts": i, "a": float(i % 3), "b": float(i % 2)}
            for i in range(100)
        ]
        frame = pd.DataFrame(rows)
        bms = _define_bitmaps(rows, spec, frame)
        assert "V" in bms  # still vectorized, not rejected
        src = spec.define["V"]
        for i in range(len(rows)):
            assert bool(bms["V"][i]) == _scalar(rows, src, "V", i), (
                op, i,
            )


def test_order_by_backtick_with_explicit_direction():
    """ADVICE r8: `col` DESC used to leave a trailing backtick in the
    parsed column name (strip order bug)."""
    clause = (
        "PARTITION BY k ORDER BY `ts` ASC, `px` DESC"
        " MEASURES A.px AS apx ONE ROW PER MATCH"
        " AFTER MATCH SKIP PAST LAST ROW PATTERN (A)"
        " DEFINE A AS A.px > 0"
    )
    spec = parse_match_recognize(clause)
    assert spec.order_by == ["ts", "px"]
    assert spec.order_asc == [True, False]


def test_chunked_runner_is_chunking_invariant(spark):
    """The mapInPandas batch route must produce identical results when
    Arrow chunks split groups mid-stream: force tiny
    maxRecordsPerBatch so every group straddles chunk boundaries and
    compare against the single-chunk run."""
    import pandas as pd

    from flink_streaming_platform_web_spark.operators.cep import (
        infer_output_schema,
        match_recognize,
    )

    rng = random.Random(7)
    rows = []
    for k in range(6):
        for i in range(40):
            rows.append(
                {
                    "k": k,
                    "ts": i,
                    "v": round(rng.uniform(0, 100), 2),
                }
            )
    df = spark.createDataFrame(pd.DataFrame(rows))
    clause = (
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(DOWN.ts) AS s_ts, LAST(UP.ts) AS e_ts,"
        " COUNT(UP.*) AS n_up"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (DOWN{2,} UP+)"
        " DEFINE DOWN AS DOWN.v < PREV(DOWN.v),"
        " UP AS UP.v > PREV(UP.v)"
    )
    spec = parse_match_recognize(clause)
    schema = infer_output_schema(spec, df)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "7")  # every group spans ≥5 chunks
        tiny = {
            tuple(r) for r in match_recognize(df, spec, schema).collect()
        }
    finally:
        spark.conf.set(conf, old)
    whole = {
        tuple(r) for r in match_recognize(df, spec, schema).collect()
    }
    assert tiny == whole
    assert whole, "pattern never fired — vacuous gate"


def test_chunked_runner_randomized_equals_per_group_reference(spark):
    """Randomized differential for the round-9 chunked mapInPandas
    route: random data + a rotating pattern set, random Arrow chunk
    sizes (so group-carry engages at arbitrary boundaries), compared
    against the per-group scalar reference (_match_partition over
    pandas-sorted groups with bitmaps disabled)."""
    import pandas as pd

    from flink_streaming_platform_web_spark.operators.cep import (
        _match_partition,
        infer_output_schema,
        match_recognize,
    )

    clauses = [
        # greedy quantifiers + SKIP PAST LAST ROW
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(A.ts) AS s_ts, COUNT(B.*) AS n_b"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B+)"
        " DEFINE A AS A.v < 30, B AS B.v > PREV(B.v)",
        # ALL ROWS + CLASSIFIER + context-dependent define
        "PARTITION BY k ORDER BY ts"
        " MEASURES CLASSIFIER() AS cls, RUNNING COUNT(*) AS rn"
        " ALL ROWS PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (LO HI{1,2})"
        " DEFINE LO AS LO.v < 40, HI AS HI.v > FIRST(LO.v) + 20",
        # PERMUTE + SKIP TO NEXT ROW
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(X.v) AS xv, LAST(Z.v) AS zv"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (PERMUTE(X, Y, Z))"
        " DEFINE X AS X.v < 33, Y AS Y.v >= 33 AND Y.v < 66,"
        " Z AS Z.v >= 66",
    ]
    rng = random.Random(23)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    try:
        for trial, clause in enumerate(clauses):
            spec = parse_match_recognize(clause)
            rows = [
                {
                    "k": rng.randint(0, 4),
                    "ts": i,
                    "v": float(rng.randint(0, 99)),
                }
                for i in range(300)
            ]
            pdf = pd.DataFrame(rows)
            df = spark.createDataFrame(pdf)
            schema = infer_output_schema(spec, df)
            spark.conf.set(conf, str(rng.choice([5, 17, 64])))
            with pytest.MonkeyPatch.context() as mp:
                # reference: per-group pandas route, scalar evals only
                mp.setattr(cep, "_define_bitmaps", lambda *a, **kw: {})
                ref = []
                for _, g in pdf.groupby("k"):
                    g = g.sort_values(["ts"], kind="mergesort")
                    ref.extend(
                        _match_partition(g.to_dict("records"), spec)
                    )
            want = {
                tuple(r[c] for c in [f.split(" ")[0] for f in schema.split(", ")])
                for r in ref
            }
            got = {
                tuple(r) for r in match_recognize(df, spec, schema).collect()
            }
            assert got == want, f"trial {trial}"
            assert got, f"trial {trial} vacuous"
    finally:
        spark.conf.set(conf, old)


def test_group_starts_null_keys_group_together():
    """NaN/None partition keys must form ONE group (Spark's groupBy
    null semantics) — a bare != comparison would split every null row
    into its own group."""
    import numpy as np
    import pandas as pd

    from flink_streaming_platform_web_spark.operators.cep import (
        _group_starts,
    )

    obj = pd.DataFrame({"k": ["a", "a", None, None, "b"]})
    assert list(_group_starts(obj, ["k"])) == [0, 2, 4]
    flt = pd.DataFrame({"k": [1.0, 1.0, np.nan, np.nan, 2.0]})
    assert list(_group_starts(flt, ["k"])) == [0, 2, 4]


def test_fixed_len_jvm_tier_equals_nfa_matcher(spark):
    """The round-9 JVM window tier (_fixed_len_sql) must be invisible:
    identical output to the NFA matcher on every eligible shape —
    randomized data incl. NULL values and partition-boundary rows,
    DESC secondary order, repeated variables, always-true variables,
    and every measure form the tier accepts."""
    import pandas as pd

    from flink_streaming_platform_web_spark.operators.cep import (
        _fixed_len_sql,
        infer_output_schema,
        match_recognize,
    )

    clauses = [
        # repeated var + COUNT forms + CLASSIFIER
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(A.v) AS fa, LAST(A.v) AS la, B.v AS bv,"
        " COUNT(*) AS n, COUNT(A.*) AS na, CLASSIFIER() AS cls"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A A B)"
        " DEFINE A AS A.v < 60, B AS B.v >= 20",
        # DESC secondary order + MATCH_ROWTIME + always-true var
        "PARTITION BY k ORDER BY d, ts DESC"
        " MEASURES FIRST(LO.ts) AS lo_ts, MATCH_ROWTIME() AS mr"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (LO ANYROW HI)"
        " DEFINE LO AS LO.v < 30, HI AS HI.v >= 70",
    ]
    rng = random.Random(31)
    for trial, clause in enumerate(clauses):
        spec = parse_match_recognize(clause)
        rows = []
        for i in range(400):
            rows.append(
                {
                    "k": rng.randint(0, 5),
                    "d": rng.randint(0, 3),
                    "ts": i,
                    "v": (
                        None
                        if rng.random() < 0.06
                        else float(rng.randint(0, 99))
                    ),
                }
            )
        df = spark.createDataFrame(
            pd.DataFrame(rows).astype({"v": "float64"})
        )
        schema = infer_output_schema(spec, df)
        fast = match_recognize(df, spec, schema)
        assert _fixed_len_sql(df, spec) is not None
        assert "MapInPandas" not in fast._jdf.queryExecution().executedPlan().toString()
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cep, "_fixed_len_sql", lambda *a: None)
            slow = match_recognize(df, spec, schema)
            assert "MapInPandas" in slow._jdf.queryExecution().executedPlan().toString()
            want = {tuple(r) for r in slow.collect()}
        got = {tuple(r) for r in fast.collect()}
        assert got == want, f"trial {trial}"
        assert got, f"trial {trial} vacuous"


def test_fixed_len_tier_rejects_ineligible_shapes(spark):
    """Shapes outside the tier's contract must return None (NFA
    path), never a silently-different plan."""
    import pandas as pd

    from flink_streaming_platform_web_spark.operators.cep import (
        _fixed_len_sql,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {"k": [1], "ts": [1], "v": [1.0], "w": [2.0]}
        )
    )
    base = (
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(A.v) AS fa"
        " ONE ROW PER MATCH AFTER MATCH {skip}"
        " PATTERN ({pat})"
        " DEFINE {defs}"
    )
    for skip, pat, defs in [
        # SKIP PAST LAST ROW couples matches — tier B's job, not A's
        ("SKIP PAST LAST ROW", "A B", "A AS A.v < 5, B AS B.v > 1"),
        # quantifier — not fixed length
        ("SKIP TO NEXT ROW", "A B+", "A AS A.v < 5, B AS B.v > 1"),
        # other-variable reference — context-dependent
        ("SKIP TO NEXT ROW", "A B", "A AS A.v < 5, B AS B.v > A.v"),
        # <> — SQL NULL <> x is no-match, scalar None != x is True
        ("SKIP TO NEXT ROW", "A B",
         "A AS A.v < 5, B AS B.v <> 1"),
        # != — same three-valued-logic divergence
        ("SKIP TO NEXT ROW", "A B",
         "A AS A.v < 5, B AS B.v != 1"),
        # NOT — ~False over a NULL comparison flips to True scalar-side
        ("SKIP TO NEXT ROW", "A B",
         "A AS A.v < 5, B AS NOT B.v = 1"),
        # bare (non-dotted) input-column identifier — would evaluate
        # at the match's start row instead of B's own offset; the NFA
        # path fails loudly (NameError) instead
        ("SKIP TO NEXT ROW", "A B", "A AS A.v < 5, B AS v > 1"),
    ]:
        spec = parse_match_recognize(
            base.format(skip=skip, pat=pat, defs=defs)
        )
        assert _fixed_len_sql(df, spec) is None, (skip, pat, defs)


def test_past_last_tier_rejects_ineligible_shapes(spark):
    """Tier B (fixed-length SKIP PAST LAST ROW) and tier C (trailing
    quantifier) reject everything outside their proven subsets."""
    import pandas as pd

    from flink_streaming_platform_web_spark.operators.cep import (
        _fixed_len_past_sql,
        _trailing_plus_sql,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"k": [1], "ts": [1], "v": [1.0], "w": [2.0]})
    )
    base = (
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(A.v) AS fa"
        " ONE ROW PER MATCH AFTER MATCH {skip}"
        " PATTERN ({pat}){within}"
        " DEFINE {defs}"
    )
    for skip, pat, within, defs in [
        # k = 3: the stride-parity rewrite over-produces when a run
        # head lands on a consumed row (see _fixed_len_past_sql)
        ("SKIP PAST LAST ROW", "A B C", "",
         "A AS A.v < 5, B AS B.v > 1, C AS C.v > 0"),
        # SKIP TO NEXT is tier A's job
        ("SKIP TO NEXT ROW", "A B", "", "A AS A.v < 5, B AS B.v > 1"),
    ]:
        spec = parse_match_recognize(
            base.format(skip=skip, pat=pat, within=within, defs=defs)
        )
        assert _fixed_len_past_sql(df, spec) is None, (skip, pat)
    for pat, within, defs in [
        # a DEFINED prefix re-anchors retries inside islands
        ("A B+", "", "A AS A.v < 5, B AS B.v > PREV(B.v)"),
        # bounded quantifier — max bound truncates islands mid-run
        ("A B{1,3}", "", "B AS B.v > PREV(B.v)"),
        # reluctant — minimal consumption, not maximal runs
        ("A B+?", "", "B AS B.v > PREV(B.v)"),
        # WITHIN truncates greedy consumption mid-island
        ("A B+", " WITHIN INTERVAL '1' HOUR",
         "B AS B.v > PREV(B.v)"),
        # always-true B consumes whole partitions — NFA
        ("A B+", "", "A AS A.v < 5"),
    ]:
        spec = parse_match_recognize(
            base.format(
                skip="SKIP PAST LAST ROW", pat=pat, within=within,
                defs=defs,
            )
        )
        assert _trailing_plus_sql(df, spec) is None, (pat, defs)


def test_fixed_len_tier_within_equals_nfa(spark):
    """WITHIN through the JVM tier: exact integer-microsecond bound on
    the (first, last) offsets — randomized timestamps incl. boundary
    values exactly AT the bound, vs the NFA matcher."""
    import pandas as pd

    from flink_streaming_platform_web_spark.operators.cep import (
        _fixed_len_sql,
        infer_output_schema,
        match_recognize,
    )

    clause = (
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(A.ts) AS a_ts, LAST(C.ts) AS c_ts"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A B C) WITHIN INTERVAL '90' SECOND"
        " DEFINE A AS A.v < 40, C AS C.v >= 40"
    )
    spec = parse_match_recognize(clause)
    assert spec.within_seconds == 90.0
    rng = random.Random(41)
    rows, t = [], pd.Timestamp("2024-01-01")
    for i in range(400):
        # steps chosen so (first,last) spans land exactly AT 90s often
        t = t + pd.Timedelta(seconds=rng.choice([15, 30, 45, 45]))
        rows.append(
            {"k": rng.randint(0, 3), "ts": t, "v": float(rng.randint(0, 99))}
        )
    df = spark.createDataFrame(pd.DataFrame(rows))
    schema = infer_output_schema(spec, df)
    fast = match_recognize(df, spec, schema)
    assert _fixed_len_sql(df, spec) is not None
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cep, "_fixed_len_sql", lambda *a: None)
        want = {tuple(r) for r in match_recognize(df, spec, schema).collect()}
    got = {tuple(r) for r in fast.collect()}
    assert got == want
    assert got, "vacuous"
    # the bound is load-bearing: without WITHIN more matches exist
    clause_nb = clause.replace(" WITHIN INTERVAL '90' SECOND", "")
    spec_nb = parse_match_recognize(clause_nb)
    nb = {
        tuple(r)
        for r in match_recognize(
            df, spec_nb, infer_output_schema(spec_nb, df)
        ).collect()
    }
    assert len(nb) > len(got)


def _force_nfa(mp):
    """Disable every JVM tier so match_recognize runs the chunked NFA."""
    mp.setattr(cep, "_fixed_len_sql", lambda *a: None)
    mp.setattr(cep, "_fixed_len_all_rows_sql", lambda *a: None)
    mp.setattr(cep, "_multi_len_sql", lambda *a: None)
    mp.setattr(cep, "_permute_bands_sql", lambda *a: None)
    mp.setattr(cep, "_fixed_len_past_sql", lambda *a: None)
    mp.setattr(cep, "_trailing_plus_sql", lambda *a: None)


def _tier_vs_nfa(spark, clause, rows, tier_fn, expect_nonempty=True):
    """Shared harness: the clause MUST route through ``tier_fn`` (and
    carry no Python in the plan), and its output must equal the NFA
    matcher's bit-for-bit (multiset compare — NULLs are unorderable)."""
    from collections import Counter

    import pandas as pd

    from flink_streaming_platform_web_spark.operators.cep import (
        infer_output_schema,
        match_recognize,
        parse_match_recognize,
    )

    spec = parse_match_recognize(clause)
    df = spark.createDataFrame(pd.DataFrame(rows))
    schema = infer_output_schema(spec, df)
    assert tier_fn(df, spec) is not None, clause
    fast = match_recognize(df, spec, schema)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "ArrowEval" not in plan
    with pytest.MonkeyPatch.context() as mp:
        _force_nfa(mp)
        slow = match_recognize(df, spec, schema)
        assert "MapInPandas" in (
            slow._jdf.queryExecution().executedPlan().toString()
        )
        want = Counter(map(tuple, slow.collect()))
    got = Counter(map(tuple, fast.collect()))
    assert got == want, clause
    if expect_nonempty:
        assert got, f"vacuous differential: {clause}"


def _rand_rows(rng, n=400, null_v=0.08, null_ts=0.0):
    rows = []
    for i in range(n):
        rows.append(
            {
                "k": rng.randint(0, 5),
                "ts": (
                    None
                    if rng.random() < null_ts
                    else float(i)
                ),
                "v": (
                    None
                    if rng.random() < null_v
                    else float(rng.randint(0, 99))
                ),
            }
        )
    return rows


def test_tier_a_prev_defines_equal_nfa(spark):
    """Round-10: PREV-based row-local defines through tier A — LAG at
    the partition head (SQL NULL) must match the scalar evaluator's
    None no-match, including NULL data values and PREV reaching
    BEFORE the match's start row."""
    rng = random.Random(107)
    for clause in [
        # PREV inside the first variable: LAG reaches before the match
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(A.v) AS fa, LAST(B.v) AS lb"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A B)"
        " DEFINE A AS A.v > PREV(A.v), B AS B.v < PREV(B.v)",
        # PREV(col, 2) + mixed plain comparison
        "PARTITION BY k ORDER BY ts"
        " MEASURES COUNT(*) AS n, MATCH_ROWTIME() AS mr"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A B)"
        " DEFINE A AS A.v < 70, B AS B.v >= PREV(B.v, 2)",
    ]:
        _tier_vs_nfa(
            spark, clause, _rand_rows(rng), cep._fixed_len_sql
        )


def test_tier_b_past_last_equals_nfa(spark):
    """Round-10 tier B: fixed-length k≤2 SKIP PAST LAST ROW — the
    gaps-and-islands + stride-parity rewrite vs the consuming NFA
    scan, over plain, PREV-based, and alternation shapes (q47/q52's
    families), with NULL values and NULL order keys."""
    rng = random.Random(211)
    clauses = [
        # plain 2-step
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(A.v) AS fa, LAST(B.v) AS lb"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B)"
        " DEFINE A AS A.v < 50, B AS B.v >= 50",
        # PREV pair (q52 shape minus WITHIN)
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(S.v) AS sv, FIRST(U.v) AS uv"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (S U)"
        " DEFINE U AS U.v > PREV(U.v)",
        # alternation with per-branch COUNT/SUM (q47 shape)
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(S.v) AS sv, COUNT(U.*) AS nu,"
        " COUNT(D.*) AS nd, SUM(U.v) AS su, MIN(D.v) AS md,"
        " CLASSIFIER() AS cls"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (S (U|D))"
        " DEFINE U AS U.v > PREV(U.v), D AS D.v < PREV(D.v)",
        # WITHIN bound over a numeric order column
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(A.ts) AS a_ts, LAST(B.ts) AS b_ts"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B) WITHIN INTERVAL '2' SECOND"
        " DEFINE A AS A.v < 50, B AS B.v >= 50",
        # single-row k=1 (consumption-free degenerate)
        "PARTITION BY k ORDER BY ts"
        " MEASURES A.v AS av"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A)"
        " DEFINE A AS A.v > 80",
    ]
    for trial, clause in enumerate(clauses):
        _tier_vs_nfa(
            spark,
            clause,
            _rand_rows(rng, null_ts=0.03 if trial == 0 else 0.0),
            cep._fixed_len_past_sql,
        )


def test_tier_c_trailing_plus_equals_nfa(spark):
    """Round-10 tier C: (S B+) / (S B*) greedy streaks under SKIP
    PAST LAST ROW — islands + group-by vs the NFA, over PREV and
    plain defines (a plain define can be true at the partition head,
    exercising the COALESCE first-island path), every aggregate
    measure form, and NULL values."""
    rng = random.Random(307)
    clauses = [
        # the q45 Ticker shape, all aggregate forms
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(S.ts) AS s_ts, LAST(U.ts) AS e_ts,"
        " COUNT(U.*) AS nu, COUNT(*) AS n, LAST(U.v) AS peak,"
        " FIRST(U.v) AS fu, SUM(U.v) AS su, MIN(U.v) AS mn,"
        " MAX(U.v) AS mx, AVG(U.v) AS av, SUM(S.v) AS ss,"
        " CLASSIFIER() AS cls, MATCH_ROWTIME() AS mr"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (S U+)"
        " DEFINE U AS U.v > PREV(U.v)",
        # PREV-free define — first island can start at the partition
        # head (COALESCE path); B* admits head-only matches
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(S.v) AS sv, COUNT(U.*) AS nu,"
        " LAST(U.v) AS lu, CLASSIFIER() AS cls"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (S U*)"
        " DEFINE U AS U.v >= 60",
    ]
    for clause in clauses:
        _tier_vs_nfa(
            spark, clause, _rand_rows(rng), cep._trailing_plus_sql
        )


def test_tier_c_all_rows_equals_nfa(spark):
    """Round-10 tier C, ALL ROWS PER MATCH (q48/q56's family): every
    island row emitted with RUNNING measures over the rows-so-far
    frame and FINAL measures over the whole island — vs the NFA's
    per-row emission, over PREV and plain defines, every measure
    form, and NULL values."""
    rng = random.Random(401)
    clauses = [
        # q48/q56 union: RUNNING + FINAL of each form
        "PARTITION BY k ORDER BY ts"
        " MEASURES COUNT(*) AS step_no, FIRST(S.v) AS base_val,"
        " LAST(U.v) AS run_val, FINAL COUNT(*) AS match_len,"
        " FINAL LAST(U.v) AS peak_val, COUNT(U.*) AS nu,"
        " SUM(U.v) AS su, FINAL SUM(U.v) AS fsu, MIN(U.v) AS mn,"
        " FINAL AVG(U.v) AS fav, CLASSIFIER() AS cls,"
        " FINAL CLASSIFIER() AS fcls, MATCH_ROWTIME() AS mr,"
        " FINAL MATCH_ROWTIME() AS fmr, FIRST(U.v) AS fu,"
        " FINAL FIRST(U.v) AS ffu"
        " ALL ROWS PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (S U+)"
        " DEFINE U AS U.v > PREV(U.v)",
        # PREV-free define + B* (head-only islands emit, FINAL LAST
        # of an empty B must be NULL)
        "PARTITION BY k ORDER BY ts"
        " MEASURES COUNT(*) AS n, FINAL LAST(U.v) AS flu,"
        " FINAL CLASSIFIER() AS fcls"
        " ALL ROWS PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (S U*)"
        " DEFINE U AS U.v >= 60",
    ]
    for clause in clauses:
        _tier_vs_nfa(
            spark, clause, _rand_rows(rng), cep._trailing_plus_sql
        )


def test_tier_a_prime_expansions_equal_nfa(spark):
    """Round-10 tier A′ (_multi_len_sql): bounded-length patterns
    under SKIP TO NEXT ROW — quantified elements, quantified groups,
    sequence alternation, PERMUTE — vs the NFA, over random data
    with NULLs. Each clause MUST route through the expansion tier."""
    rng = random.Random(1009)
    clauses = [
        # q50's shape: width-3 PERMUTE of disjoint bands (6 expansions)
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(H.v) AS hv, FIRST(M.v) AS mv,"
        " FIRST(L.v) AS lv, CLASSIFIER() AS cls"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (PERMUTE(H, M, L))"
        " DEFINE H AS H.v >= 55, M AS M.v >= 20 AND M.v < 55,"
        " L AS L.v < 20",
        # q51's shape: quantified group, greedy (two pairs before one)
        "PARTITION BY k ORDER BY ts"
        " MEASURES COUNT(*) AS n, COUNT(H.*) AS nh,"
        " LAST(L.v) AS ll"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (S (H L){1,2})"
        " DEFINE H AS H.v >= 55, L AS L.v < 20",
        # q53's shape: sequence alternation of DIFFERENT lengths,
        # leftmost preferred; off-branch measures are typed NULLs
        "PARTITION BY k ORDER BY ts"
        " MEASURES COUNT(*) AS n, CLASSIFIER() AS cls,"
        " FIRST(A.v) AS av, FIRST(D.v) AS dv, SUM(D.v) AS sd"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A B C | D)"
        " DEFINE A AS A.v < 20, B AS B.v >= 20 AND B.v < 55,"
        " C AS C.v >= 55, D AS D.v >= 90",
        # flat bounded quantifier incl. zero reps (greedy B{0,2}) +
        # PREV in the tail
        "PARTITION BY k ORDER BY ts"
        " MEASURES COUNT(*) AS n, COUNT(B.*) AS nb,"
        " LAST(B.v) AS lb, MATCH_ROWTIME() AS mr"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A B{0,2} C)"
        " DEFINE A AS A.v < 30, B AS B.v > PREV(B.v), C AS C.v >= 60",
        # reluctant bounded quantifier (fewer reps preferred)
        "PARTITION BY k ORDER BY ts"
        " MEASURES COUNT(*) AS n, LAST(B.v) AS lb"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A B{1,3}? C)"
        " DEFINE A AS A.v < 30, B AS B.v >= 30, C AS C.v >= 30",
        # quantifier over within-element alternation + WITHIN bound
        "PARTITION BY k ORDER BY ts"
        " MEASURES COUNT(*) AS n, CLASSIFIER() AS cls"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (S (X | Y){2}) WITHIN INTERVAL '30' SECOND"
        " DEFINE S AS S.v < 10, X AS X.v >= 50, Y AS Y.v >= 10",
    ]
    for clause in clauses:
        rows = [
            dict(r, ts=None if r["ts"] is None else
                 pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=r["ts"]))
            for r in _rand_rows(rng)
        ] if "WITHIN" in clause else _rand_rows(rng)
        _tier_vs_nfa(spark, clause, rows, cep._multi_len_sql)


def test_tier_b_chain_stride_equals_nfa(spark):
    """Round-10 tier B chain shape (q49's family): HEAD TAIL{m,m}
    under SKIP PAST LAST ROW at k ≥ 3 — the stride rewrite must
    reproduce the NFA's greedy consumption exactly (k-convexity),
    for PREV-chain and row-local tail defines, m = 2 and 3, NULLs."""
    rng = random.Random(4099)
    clauses = [
        # q49 verbatim shape: rising chain, m=2 (k=3)
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(S.v) AS sv, LAST(U.v) AS lu,"
        " COUNT(U.*) AS nu, CLASSIFIER() AS cls"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (S U{2})"
        " DEFINE U AS U.v > PREV(U.v)",
        # m=3 (k=4), PREV chain
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(S.v) AS sv, LAST(U.v) AS lu, COUNT(*) AS n"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (S U{3})"
        " DEFINE U AS U.v > PREV(U.v)",
        # row-local tail define (no PREV) — still chain-convex
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(S.v) AS sv, FIRST(U.v) AS fu,"
        " LAST(U.v) AS lu"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (S U{2})"
        " DEFINE U AS U.v >= 40",
    ]
    for clause in clauses:
        _tier_vs_nfa(
            spark, clause, _rand_rows(rng), cep._fixed_len_past_sql
        )


def test_tier_b_skip_to_var_equals_nfa(spark):
    """Round-10 late: AFTER MATCH SKIP TO FIRST/LAST <var> through
    tier B — the islands rewrite with stride = the variable's
    offset. Strides 1 (re-arm next row) and 2 (one skipped interior
    row, same-island by construction) vs the NFA's resume-at-row
    scan, incl. q61's chained-rising shape, PREV defines, k=3 with
    stride 2 (consumption past the resume point is irrelevant), and
    NULL values/order keys."""
    rng = random.Random(613)
    clauses = [
        # q61 shape: k=3, SKIP TO LAST TOP (stride 2), PREV defines
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(S.v) AS sv, LAST(T.v) AS tv,"
        " CLASSIFIER() AS cls"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO LAST T"
        " PATTERN (S U T)"
        " DEFINE U AS U.v > PREV(U.v), T AS T.v > PREV(T.v)",
        # stride 1: SKIP TO LAST B on (A B) — every pred-true row
        " PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(A.v) AS fa, LAST(B.v) AS lb"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO LAST B"
        " PATTERN (A B)"
        " DEFINE A AS A.v < 50, B AS B.v >= 50",
        # SKIP TO FIRST on a var at offset 2 of k=3, row-local defines
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(A.v) AS fa, LAST(C.v) AS lc"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO FIRST C"
        " PATTERN (A B C)"
        " DEFINE A AS A.v < 60, C AS C.v >= 30",
        # WITHIN composes with the stride: the bound is one more
        # per-position conjunct of pred, and the islands argument is
        # about consecutive pred-true positions whatever pred is
        " PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(S.ts) AS s_ts, LAST(T.ts) AS t_ts"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO LAST T"
        " PATTERN (S U T) WITHIN INTERVAL '3' SECOND"
        " DEFINE U AS U.v > PREV(U.v), T AS T.v > PREV(T.v)",
    ]
    for trial, clause in enumerate(clauses):
        _tier_vs_nfa(
            spark,
            clause,
            _rand_rows(rng, null_ts=0.03 if trial == 0 else 0.0),
            cep._fixed_len_past_sql,
        )


def test_tier_b_skip_to_var_rejects_ineligible(spark):
    """SKIP TO <var> shapes outside the stride ≤ 2 proof stay NFA:
    stride ≥ 3, stride 0 (Flink's refuse-to-loop error — the NFA
    raises it loudly), guarded (alternation-branch) skip targets,
    and quantified patterns."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"k": [1], "ts": [1], "v": [1.0]})
    )
    base = (
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(A.v) AS fa"
        " ONE ROW PER MATCH AFTER MATCH {skip}"
        " PATTERN ({pat})"
        " DEFINE {defs}"
    )
    for skip, pat, defs in [
        # stride 3 — the scan jumps over two rows; same over-produce
        # hazard as k ≥ 3 under PAST LAST ROW
        ("SKIP TO LAST D", "A B C D",
         "A AS A.v < 5, B AS B.v > 1, C AS C.v > 0, D AS D.v > 0"),
        # stride 0 — resume at the match's own first row
        ("SKIP TO FIRST A", "A B", "A AS A.v < 5, B AS B.v > 1"),
        # guarded occurrence: the resume point depends on the branch
        ("SKIP TO LAST U", "S (U|D)",
         "U AS U.v > 1, D AS D.v < 1"),
        # quantifier makes the skip offset match-dependent
        ("SKIP TO LAST B", "A B+", "A AS A.v < 5, B AS B.v > 1"),
    ]:
        spec = parse_match_recognize(
            base.format(skip=skip, pat=pat, defs=defs)
        )
        assert cep._fixed_len_past_sql(df, spec) is None, (
            skip, pat,
        )


def test_tier_p_permute_bands_equals_nfa(spark):
    """Round-11 tier P (_permute_bands_sql): wide PERMUTE of
    pairwise-DISJOINT numeric bands under SKIP TO NEXT ROW — past
    tier A′'s expansion cap, the k! orderings collapse to a per-row
    band classification + k−1 LEADs. Vs the NFA over random data
    with NULLs; every clause MUST route through the permute tier
    (width ≥ 5 keeps A′ out: 120 expansions > its cap of 24)."""
    rng = random.Random(6151)
    clauses = [
        # q55's shape at width 5: FIRST + CLASSIFIER measures
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(V0.v) AS lo, FIRST(V4.v) AS hi,"
        " CLASSIFIER() AS cls"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (PERMUTE(V0, V1, V2, V3, V4))"
        " DEFINE V0 AS V0.v < 15, V1 AS V1.v >= 15 AND V1.v < 35,"
        " V2 AS V2.v >= 35 AND V2.v < 55,"
        " V3 AS V3.v >= 55 AND V3.v < 80, V4 AS V4.v >= 80",
        # aggregate measure subset + MATCH_ROWTIME + COUNTs
        "PARTITION BY k ORDER BY ts"
        " MEASURES COUNT(*) AS n, COUNT(V2.*) AS n2,"
        " SUM(V1.v) AS s1, MIN(V3.v) AS m3, AVG(V4.v) AS a4,"
        " MATCH_ROWTIME() AS mr, V0.v AS bare0"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (PERMUTE(V0, V1, V2, V3, V4))"
        " DEFINE V0 AS V0.v < 15, V1 AS V1.v >= 15 AND V1.v < 35,"
        " V2 AS V2.v >= 35 AND V2.v < 55,"
        " V3 AS V3.v >= 55 AND V3.v < 80, V4 AS V4.v >= 80",
    ]
    for clause in clauses:
        _tier_vs_nfa(
            spark, clause, _rand_rows(rng, n=500),
            cep._permute_bands_sql,
        )


def test_tier_p_within_equals_nfa(spark):
    """Tier P + WITHIN: the (first, last) elapsed bound folds in as
    one extra conjunct, same rule as tiers A/A′."""
    rng = random.Random(6151)
    clause = (
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(V0.v) AS lo, CLASSIFIER() AS cls"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (PERMUTE(V0, V1, V2, V3, V4))"
        " WITHIN INTERVAL '28' SECOND"
        " DEFINE V0 AS V0.v < 15, V1 AS V1.v >= 15 AND V1.v < 35,"
        " V2 AS V2.v >= 35 AND V2.v < 55,"
        " V3 AS V3.v >= 55 AND V3.v < 80, V4 AS V4.v >= 80"
    )
    import pandas as pd

    rows = [
        dict(r, ts=None if r["ts"] is None else
             pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=r["ts"]))
        for r in _rand_rows(rng, n=500)
    ]
    _tier_vs_nfa(spark, clause, rows, cep._permute_bands_sql)


def test_tier_p_rejects_ineligible_shapes(spark):
    """Negative controls: overlapping bands, OR-defines, a missing
    define, mixed columns, and non-to_next skip must all return None
    (NFA path) — the disjointness PROOF is the tier's whole
    eligibility argument."""
    import pandas as pd

    from flink_streaming_platform_web_spark.operators.cep import (
        parse_match_recognize,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            [{"k": 1, "ts": float(i), "v": float(i), "w": float(i)}
             for i in range(10)]
        )
    )
    base = (
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(A.v) AS fa"
        " ONE ROW PER MATCH AFTER MATCH {skip}"
        " PATTERN (PERMUTE(A, B, C, D, E))"
        " DEFINE {defs}"
    )
    disjoint = (
        "A AS A.v < 10, B AS B.v >= 10 AND B.v < 20,"
        " C AS C.v >= 20 AND C.v < 30,"
        " D AS D.v >= 30 AND D.v < 40, E AS E.v >= 40"
    )
    bad = [
        # overlapping bands (B reaches into C)
        base.format(skip="SKIP TO NEXT ROW", defs=disjoint.replace(
            "B.v < 20", "B.v < 25")),
        # OR in a define
        base.format(skip="SKIP TO NEXT ROW", defs=disjoint.replace(
            "A AS A.v < 10", "A AS A.v < 10 OR A.v > 90")),
        # define-free variable (matches everything — overlaps all)
        base.format(skip="SKIP TO NEXT ROW", defs=(
            "B AS B.v >= 10 AND B.v < 20,"
            " C AS C.v >= 20 AND C.v < 30,"
            " D AS D.v >= 30 AND D.v < 40, E AS E.v >= 40")),
        # bands over two different columns
        base.format(skip="SKIP TO NEXT ROW", defs=disjoint.replace(
            "E AS E.v >= 40", "E AS E.w >= 40")),
        # consumption-coupled skip mode
        base.format(skip="SKIP PAST LAST ROW", defs=disjoint),
    ]
    for clause in bad:
        spec = parse_match_recognize(clause)
        assert cep._permute_bands_sql(df, spec) is None, clause
    # sanity: the unmodified disjoint clause IS eligible
    spec = parse_match_recognize(
        base.format(skip="SKIP TO NEXT ROW", defs=disjoint)
    )
    assert cep._permute_bands_sql(df, spec) is not None


def test_disjoint_bands_redundant_conjunct_keeps_tighter():
    """ADVICE r11: under one consistent tightness key per side,
    'B.v >= 5 AND B.v > 5' keeps the EXCLUSIVE lower bound — so
    A = (-inf, 5] and B = (5, inf) prove disjoint; the inclusive
    control pair overlaps at the point 5 and stays NFA."""
    from flink_streaming_platform_web_spark.operators import cep

    col_types = {"v": "double"}
    bands = cep._disjoint_bands(
        {"A": "A.v <= 5", "B": "B.v >= 5 AND B.v > 5"},
        ["A", "B"],
        col_types,
    )
    assert bands is not None
    col, ivals = bands
    assert col == "v"
    lo, lo_in, hi, hi_in = dict(ivals)["B"]
    assert (lo, lo_in) == (5.0, False)  # exclusive bound won the tie
    assert cep._disjoint_bands(
        {"A": "A.v <= 5", "B": "B.v >= 5"}, ["A", "B"], col_types
    ) is None
    # mirrored redundancy on the upper side: 'A.v <= 5 AND A.v < 5'
    # keeps the exclusive upper bound, disjoint from B = [5, inf)
    assert cep._disjoint_bands(
        {"A": "A.v <= 5 AND A.v < 5", "B": "B.v >= 5"},
        ["A", "B"],
        col_types,
    ) is not None


def test_wide_permute_band_disjoint_works_nfa_rejects(spark):
    """Round 11: the factorial width cap moved from parse time to the
    NFA route. A width-12 PERMUTE of disjoint bands compiles to tier
    P and RUNS; the same width with non-disjoint defines raises the
    loud NFA bound instead of searching 12! orderings. Streaming
    (always the NFA fold) rejects the wide pattern regardless."""
    import pandas as pd
    import pytest as _pt

    from flink_streaming_platform_web_spark.operators.cep import (
        infer_output_schema,
        match_recognize,
        parse_match_recognize,
        stream_match_recognize,
    )

    k = 12
    vars_ = [f"V{j}" for j in range(k)]
    bands = ", ".join(
        f"V{j} AS V{j}.v >= {j * 10} AND V{j}.v < {j * 10 + 10}"
        for j in range(k)
    )
    clause = (
        "PARTITION BY g ORDER BY ts"
        " MEASURES FIRST(V0.v) AS v0, CLASSIFIER() AS cls"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        f" PATTERN (PERMUTE({', '.join(vars_)}))"
        f" DEFINE {bands}"
    )
    # one full permutation 0..11 shuffled deterministically + noise
    order = [7, 2, 9, 0, 4, 11, 1, 8, 3, 10, 6, 5]
    rows = [
        {"g": 1, "ts": i, "v": float(c * 10 + 3)}
        for i, c in enumerate(order)
    ] + [{"g": 1, "ts": 100 + i, "v": 3.0} for i in range(5)]
    df = spark.createDataFrame(pd.DataFrame(rows))
    spec = parse_match_recognize(clause)
    out = match_recognize(df, spec, infer_output_schema(spec, df))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan  # tier P, zero Python
    got = out.collect()
    assert len(got) == 1 and got[0]["v0"] == 3.0
    assert got[0]["cls"] == f"V{order[-1]}"

    # non-disjoint defines at the same width: loud NFA bound
    bad = clause.replace("V1.v < 20", "V1.v < 25")
    bad_spec = parse_match_recognize(bad)
    with _pt.raises(ValueError, match="12! orderings"):
        match_recognize(df, bad_spec, infer_output_schema(bad_spec, df))

    # streaming: always the NFA fold -> rejected even when disjoint
    with _pt.raises(ValueError, match="12! orderings"):
        stream_match_recognize(
            df, spec, infer_output_schema(spec, df)
        )


def test_tier_a_all_rows_equals_nfa(spark):
    """Round-11 tier A-all (_fixed_len_all_rows_sql): fixed-length
    single-variable patterns under SKIP TO NEXT ROW + ALL ROWS PER
    MATCH vs the NFA over random data with NULLs — RUNNING measures
    over the static prefix, FINAL at the last offset, overlapping
    matches emitting shared rows once per match."""
    rng = random.Random(7333)
    clauses = [
        # q62's verbatim shape: PREV define + RUNNING COUNT + FIRST
        "PARTITION BY k ORDER BY ts"
        " MEASURES COUNT(*) AS n_sofar, FIRST(A.v) AS av"
        " ALL ROWS PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A B)"
        " DEFINE A AS A.v < 40, B AS B.v > PREV(B.v)",
        # width 3, FINAL next to RUNNING, CLASSIFIER, MATCH_ROWTIME,
        # single-occurrence aggregates
        "PARTITION BY k ORDER BY ts"
        " MEASURES COUNT(*) AS n, FINAL COUNT(*) AS nf,"
        " LAST(B.v) AS lb, FINAL LAST(C.v) AS fc,"
        " SUM(A.v) AS sa, CLASSIFIER() AS cls,"
        " MATCH_ROWTIME() AS mr"
        " ALL ROWS PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A B C)"
        " DEFINE A AS A.v < 30, B AS B.v >= 30 AND B.v < 70,"
        " C AS C.v >= 70",
        # repeated variable: FIRST/LAST/COUNT(V.*) over two offsets
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(A.v) AS fa, LAST(A.v) AS la,"
        " COUNT(A.*) AS na"
        " ALL ROWS PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A B A)"
        " DEFINE A AS A.v < 50, B AS B.v >= 50",
    ]
    for clause in clauses:
        _tier_vs_nfa(
            spark, clause, _rand_rows(rng, n=300),
            cep._fixed_len_all_rows_sql,
        )


def test_tier_a_all_rows_rejects_ineligible(spark):
    """Negative controls for tier A-all: alternation elements (data-
    dependent prefix sets), quantifiers, non-to_next skip, and
    multi-occurrence aggregates stay on the NFA."""
    import pandas as pd

    from flink_streaming_platform_web_spark.operators.cep import (
        parse_match_recognize,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            [{"k": 1, "ts": float(i), "v": float(i)} for i in range(8)]
        )
    )
    bad = [
        # alternation element
        "PARTITION BY k ORDER BY ts MEASURES COUNT(*) AS n"
        " ALL ROWS PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A (B | C))"
        " DEFINE A AS A.v < 50, B AS B.v >= 50, C AS C.v >= 70",
        # quantifier
        "PARTITION BY k ORDER BY ts MEASURES COUNT(*) AS n"
        " ALL ROWS PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A B+) DEFINE B AS B.v > PREV(B.v)",
        # consumption-coupled skip
        "PARTITION BY k ORDER BY ts MEASURES COUNT(*) AS n"
        " ALL ROWS PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B) DEFINE A AS A.v < 50",
        # SUM over a multi-occurrence variable
        "PARTITION BY k ORDER BY ts MEASURES SUM(A.v) AS sa"
        " ALL ROWS PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A A) DEFINE A AS A.v < 50",
    ]
    for clause in bad:
        spec = parse_match_recognize(clause)
        assert cep._fixed_len_all_rows_sql(df, spec) is None, clause


#: one eligible shape per tier (tier C twice: its ONE ROW and ALL
#: ROWS measures are separate code); every measure reads variable B
_TYPED_SHAPES = [
    ("_fixed_len_sql", "ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
     " PATTERN (A B) DEFINE A AS A.d < 50"),
    ("_fixed_len_all_rows_sql", "ALL ROWS PER MATCH"
     " AFTER MATCH SKIP TO NEXT ROW PATTERN (A B) DEFINE A AS A.d < 50"),
    ("_multi_len_sql", "ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
     " PATTERN (A B?) DEFINE A AS A.d < 50, B AS B.d > 20"),
    ("_permute_bands_sql", "ONE ROW PER MATCH"
     " AFTER MATCH SKIP TO NEXT ROW PATTERN (PERMUTE(A, B))"
     " DEFINE A AS A.d < 30, B AS B.d >= 60"),
    ("_fixed_len_past_sql", "ONE ROW PER MATCH"
     " AFTER MATCH SKIP PAST LAST ROW PATTERN (A B)"
     " DEFINE A AS A.d < 50"),
    ("_trailing_plus_sql", "ONE ROW PER MATCH"
     " AFTER MATCH SKIP PAST LAST ROW PATTERN (A B+)"
     " DEFINE B AS B.d > PREV(B.d)"),
    ("_trailing_plus_sql", "ALL ROWS PER MATCH"
     " AFTER MATCH SKIP PAST LAST ROW PATTERN (A B+)"
     " DEFINE B AS B.d > PREV(B.d)"),
]


def test_tiers_type_measures_like_infer_output_schema(spark):
    """Every tier either declines a measure or gives it exactly
    infer_output_schema's type, for FIRST/LAST/bare/SUM/MIN/MAX/AVG
    over int, bigint, double, decimal, string and timestamp columns
    and COUNT(B.*); all the measures a tier accepts, run together,
    return the NFA's rows."""
    import datetime
    from collections import Counter
    from decimal import Decimal

    from pyspark.sql.types import _parse_datatype_string

    rng = random.Random(29)

    def maybe(v):
        return None if rng.random() < 0.1 else v

    rows = [
        (
            rng.randint(0, 2), float(n), maybe(rng.randint(-50, 50)),
            maybe(rng.randint(-(2**40), 2**40)),
            maybe(float(rng.randint(0, 99))),
            maybe(Decimal(rng.randint(-9999, 9999)) / 100),
            maybe(rng.choice(["x", "y", "z"])),
            maybe(datetime.datetime(2024, 1, 1, 0, rng.randint(0, 59))),
        )
        for n in range(60)
    ]
    df = spark.createDataFrame(
        rows,
        "k int, ts double, i int, l bigint, d double, m decimal(10,2),"
        " s string, t timestamp",
    )
    measures = ["COUNT(B.*)"] + [
        f.format(c)
        for c in ("i", "l", "d", "m", "s", "t")
        for f in ("FIRST(B.{})", "LAST(B.{})", "B.{}", "SUM(B.{})",
                  "MIN(B.{})", "MAX(B.{})", "AVG(B.{})")
    ]

    def spec_of(tail, ms):
        return parse_match_recognize(
            "PARTITION BY k ORDER BY ts MEASURES "
            + ", ".join(f"{m} AS x{j}" for j, m in enumerate(ms))
            + " " + tail
        )

    def types(schema):
        if isinstance(schema, str):
            schema = _parse_datatype_string(schema)
        return [(f.name, f.dataType) for f in schema.fields]

    for tier, tail in _TYPED_SHAPES:
        tier_fn = getattr(cep, tier)
        accepted = []
        for m in measures:
            spec = spec_of(tail, [m])
            got = tier_fn(df, spec)
            if got is not None:
                want = cep.infer_output_schema(spec, df)
                assert types(got.schema) == types(want), (tier, tail, m)
                accepted.append(m)
        assert "FIRST(B.d)" in accepted and "SUM(B.i)" in accepted, tier
        spec = spec_of(tail, accepted)
        schema = cep.infer_output_schema(spec, df)
        fast = tier_fn(df, spec)
        assert types(fast.schema) == types(schema), (tier, tail)
        with pytest.MonkeyPatch.context() as mp:
            _force_nfa(mp)
            want = Counter(
                map(tuple, cep.match_recognize(df, spec, schema).collect())
            )
        got = Counter(map(tuple, fast.collect()))
        assert got == want and got, (tier, tail)


def test_row_value_types_are_python_natives():
    """ADVICE r13: both row-materialization paths (the batch
    _ColRows lazy view and the streaming front end's rows_of_frame)
    must produce exactly to_dict('records') types — np.int64 leaking into
    measure arithmetic wraps silently at 2**63 where Python ints
    stay exact. Pin natives for int/float/bool, pd.Timestamp (not
    np.datetime64) for datetimes, NaT preserved for datetime nulls,
    and exact big-int arithmetic end to end."""
    frame = pd.DataFrame(
        {
            "i": pd.array([2**62, 5], dtype="int64"),
            "f": [1.5, float("nan")],
            "b": [True, False],
            "t": pd.to_datetime(["2024-01-01", None]),
            "s": ["x", None],
        }
    )

    from flink_streaming_platform_web_spark.streaming.ooo import (
        rows_of_frame,
    )

    rows = rows_of_frame(frame)
    cr = cep._ColRows(frame)
    for r in (rows[0], cr[0]):
        assert type(r["i"]) is int
        assert type(r["f"]) is float
        assert type(r["b"]) is bool
        assert isinstance(r["t"], pd.Timestamp)
        assert r["s"] == "x"
        # the wrap itself: 3 * 2**62 overflows int64 but not int
        assert r["i"] * 3 == 3 * 2**62
    for r in (rows[1], cr[1]):
        assert r["t"] is pd.NaT
        assert r["f"] != r["f"]  # nan, as a Python float


def test_nfa_aggregates_skip_nan_nulls():
    """A NULL in a numeric or datetime column reaches the matcher as
    NaN/NaT; SUM/MIN/MAX/AVG skip it as SQL does (they returned NULL
    or an order-dependent value when it was kept)."""
    nan, nat = float("nan"), pd.NaT
    rows = [
        {"v": nan, "t": nat},
        {"v": 1.0, "t": pd.Timestamp("2024-01-02")},
        {"v": 3.0, "t": pd.Timestamp("2024-01-01")},
        {"v": nan, "t": nat},
    ]
    agg = _match_ctx(rows, 0, ["A"] * 4)["__agg"]
    assert agg("sum", "A", "v") == 4.0
    assert agg("avg", "A", "v") == 2.0
    assert (agg("min", "A", "v"), agg("max", "A", "v")) == (1.0, 3.0)
    assert agg("min", "A", "t") == pd.Timestamp("2024-01-01")
    assert agg("max", "A", "t") == pd.Timestamp("2024-01-02")
    assert agg("count", "A", None) == 4


def test_global_pattern_key_collision_is_loud(spark):
    """A pattern without PARTITION BY runs keyed by a constant column;
    an input column of that name is refused, not overwritten."""
    df = spark.createDataFrame([(1.0, 7)], "ts double, __mr_gk__ int")
    spec = parse_match_recognize(
        "ORDER BY ts MEASURES COUNT(*) AS n ONE ROW PER MATCH"
        " PATTERN (A) DEFINE A AS A.ts > 0"
    )
    with pytest.raises(ValueError, match="global-pattern grouping key"):
        cep.match_recognize(df, spec, "n bigint")
