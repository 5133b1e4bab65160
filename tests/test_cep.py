"""MATCH_RECOGNIZE (operators/cep.py): the Flink docs Ticker
example's V-pattern hand-checked, quantifier/skip-mode semantics, the
runner SQL route, and loud rejection of the unsupported surface."""

from __future__ import annotations

import pytest

from flink_streaming_platform_web_spark.operators import cep


def _ticker_df(spark):
    # the Flink docs ticker: ACME price V-shape 12 17 19 21 25 12 15
    # 19 20 24 25 19 — docs find one match starting at the price-25
    # peak (row 4): down to 12, up to 19
    rows = [
        ("ACME", i + 1, float(p))
        for i, p in enumerate(
            [12, 17, 19, 21, 25, 12, 15, 19, 20, 24, 25, 19]
        )
    ]
    return spark.createDataFrame(
        rows, "symbol STRING, tstamp INT, price DOUBLE"
    )


V_CLAUSE = """
  PARTITION BY symbol
  ORDER BY tstamp
  MEASURES
    STRT.tstamp AS start_tstamp,
    LAST(DOWN.tstamp) AS bottom_tstamp,
    LAST(UP.tstamp) AS end_tstamp
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (STRT DOWN+ UP+)
  DEFINE
    DOWN AS DOWN.price < PREV(DOWN.price),
    UP AS UP.price > PREV(UP.price)
"""


def test_ticker_v_pattern(spark):
    """The docs example verbatim: one match — start at the 25 peak
    (t=5), bottom at 12 (t=6), greedy UP+ runs to the 25 at t=11."""
    spec = cep.parse_match_recognize(V_CLAUSE)
    df = _ticker_df(spark)
    out = cep.match_recognize(
        df, spec, cep.infer_output_schema(spec, df)
    ).collect()
    got = [
        (r["symbol"], r["start_tstamp"], r["bottom_tstamp"],
         r["end_tstamp"])
        for r in out
    ]
    assert got == [("ACME", 5, 6, 11)]


def test_skip_to_next_row_overlapping_matches(spark):
    """SKIP TO NEXT ROW re-scans from start+1 → overlapping matches
    (the docs' contrast case with SKIP PAST LAST ROW)."""
    clause = V_CLAUSE.replace(
        "SKIP PAST LAST ROW", "SKIP TO NEXT ROW"
    )
    spec = cep.parse_match_recognize(clause)
    df = _ticker_df(spark)
    out = cep.match_recognize(
        df, spec, cep.infer_output_schema(spec, df)
    ).collect()
    starts = sorted(r["start_tstamp"] for r in out)
    # every row whose successor starts a strict descent-then-ascent:
    # t=5 (25→12→…) and t=6 is the bottom itself (12→15 has no DOWN)
    assert starts == [5]
    # make overlap actually happen: W-shape
    rows = [("X", i + 1, float(p)) for i, p in enumerate([5, 3, 6, 2, 7])]
    df2 = spark.createDataFrame(
        rows, "symbol STRING, tstamp INT, price DOUBLE"
    )
    out2 = cep.match_recognize(
        df2, spec, cep.infer_output_schema(spec, df2)
    ).collect()
    # matches at t=1 (5↘3↗6) and t=3 (6↘2↗7); PAST LAST ROW would
    # have found t=1 then resumed at t=4
    assert sorted(r["start_tstamp"] for r in out2) == [1, 3]


def test_star_and_optional_quantifiers(spark):
    """B* (may be empty) and D? (optional) — pattern A B* C over a
    run: greedy B* absorbs the middle rows."""
    clause = """
      PARTITION BY k
      ORDER BY seq
      MEASURES
        FIRST(A.seq) AS a_seq,
        COUNT(B.*) AS n_b,
        LAST(C.seq) AS c_seq
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B* C)
      DEFINE
        B AS B.v = 0,
        C AS C.v = 9
    """
    spec = cep.parse_match_recognize(clause)
    rows = [
        ("k1", 1, 1), ("k1", 2, 0), ("k1", 3, 0), ("k1", 4, 9),
        ("k1", 5, 7), ("k1", 6, 9),  # A=5 (any), B empty, C=6
    ]
    df = spark.createDataFrame(rows, "k STRING, seq INT, v INT")
    out = sorted(
        (r["a_seq"], r["n_b"], r["c_seq"])
        for r in cep.match_recognize(
            df, spec, cep.infer_output_schema(spec, df)
        ).collect()
    )
    assert out == [(1, 2, 4), (5, 0, 6)]


def test_runner_sql_route(spark, sf_dir, tmp_path):
    """MATCH_RECOGNIZE inside an INSERT script routes through the
    runner to the CEP operator; the outer projection runs over the
    match result."""
    from flink_streaming_platform_web_spark.streaming.runner import (
        JobRunner,
    )
    from flink_streaming_platform_web_spark.tables import load

    src = f"{tmp_path}/mr_events"
    load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    ).write.parquet(src)
    runner = JobRunner(spark, mode="batch")
    runner.execute_script(
        f"""
        CREATE TABLE mr_events (
          user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE
        ) WITH ('connector'='filesystem','path'='{src}',
                'format'='parquet');
        CREATE TABLE mr_out (user_id BIGINT, start_id BIGINT,
          n_up BIGINT) WITH ('connector'='memory');
        INSERT INTO mr_out
        SELECT user_id, start_id, n_up
        FROM mr_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES
            FIRST(STRT.event_id) AS start_id,
            COUNT(UP.*) AS n_up
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (STRT UP+)
          DEFINE UP AS UP.value > PREV(UP.value)
        ) WHERE n_up >= 2;
        """
    )
    got = spark.table("mr_out")
    assert got.count() > 0
    assert got.filter("n_up < 2").count() == 0
    # cross-check against the operator called directly
    direct = (
        cep.match_recognize(
            spark.read.parquet(src),
            cep.parse_match_recognize(cep.Q45_CLAUSE),
            "user_id bigint, start_id bigint, end_id bigint,"
            " n_up bigint, peak double",
        )
        .filter("n_up >= 2")
        .count()
    )
    assert got.count() == direct


DESC_CLAUSE = """
  PARTITION BY k
  ORDER BY g, seq DESC
  MEASURES FIRST(LO.seq) AS lo_seq, FIRST(HI.seq) AS hi_seq
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (LO HI)
  DEFINE LO AS LO.v < 5.0, HI AS HI.v >= 5.0
"""


def test_desc_secondary_order_parse():
    """Round 8: DESC on SECONDARY ORDER BY columns parses (Flink only
    pins the FIRST column — the event-time attribute — to ascending,
    docs queries/match_recognize §Order of Events)."""
    spec = cep.parse_match_recognize(DESC_CLAUSE)
    assert spec.order_by == ["g", "seq"]
    assert spec.order_asc == [True, False]


def test_desc_secondary_order_batch(spark):
    """Within one g tie-group the scan runs seq-DESCENDING, so which
    row FOLLOWS which flips vs ASC and the LO→HI adjacency matches
    differ: DESC pairs (3,2) then (1,5); ASC would pair (1,2),(3,4)."""
    rows = [
        ("a", 1, 1, 2.0),
        ("a", 1, 2, 9.0),
        ("a", 1, 3, 1.0),
        ("a", 1, 4, 7.0),
        ("a", 2, 5, 8.0),
    ]
    df = spark.createDataFrame(
        rows, "k STRING, g INT, seq INT, v DOUBLE"
    )
    spec = cep.parse_match_recognize(DESC_CLAUSE)
    out = cep.match_recognize(
        df, spec, cep.infer_output_schema(spec, df)
    ).collect()
    assert sorted((r["lo_seq"], r["hi_seq"]) for r in out) == [
        (1, 5), (3, 2),
    ]
    asc = cep.parse_match_recognize(
        DESC_CLAUSE.replace("seq DESC", "seq")
    )
    out_asc = cep.match_recognize(
        df, asc, cep.infer_output_schema(asc, df)
    ).collect()
    assert sorted((r["lo_seq"], r["hi_seq"]) for r in out_asc) == [
        (1, 2), (3, 4),
    ]


def test_desc_order_equals_explicit_preorder():
    """Property: running the matcher under (g ASC, seq DESC) must
    equal pre-sorting the rows by that order and matching over an
    explicit ASC rank column — DESC handling is exactly an ordering
    concern, never a semantics change. 100 random pattern/data
    trials over tie-heavy groups."""
    import random

    rng = random.Random(777)
    quants = ["", "+", "*", "?", "{1,2}"]
    for _ in range(100):
        pat = " ".join(
            rng.choice(["A", "B", "(A|B)"]) + rng.choice(quants)
            for _ in range(rng.randint(2, 4))
        )
        n = rng.randint(6, 25)
        rows = [
            {
                "k": 1,
                "g": rng.randint(0, 3),
                "seq": i,
                "v": float(rng.randint(0, 9)),
            }
            for i in range(n)
        ]
        clause = f"""
          PARTITION BY k ORDER BY g, seq DESC
          MEASURES COUNT(*) AS n
          ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
          PATTERN ({pat})
          DEFINE A AS A.v < 5, B AS B.v >= 5
        """
        import pandas as pd

        spec = cep.parse_match_recognize(clause)
        shuffled = rows[:]
        rng.shuffle(shuffled)
        # the batch route's sort (match_recognize.run): pandas
        # sort_values with the spec's per-column ascending flags
        pdf = pd.DataFrame(shuffled).sort_values(
            spec.order_by, ascending=spec.order_asc, kind="mergesort"
        )
        got, _ = cep._run_matcher(
            pdf.to_dict("records"), spec, pdf.reset_index(drop=True)
        )
        # reference: explicit python pre-ordering + an ASC rank col
        ordered = sorted(shuffled, key=lambda r: (r["g"], -r["seq"]))
        assert pdf.to_dict("records") == ordered, (pat, shuffled)
        ref_rows = [{**r, "r": i} for i, r in enumerate(ordered)]
        ref_spec = cep.parse_match_recognize(
            clause.replace("ORDER BY g, seq DESC", "ORDER BY r")
        )
        ref, _ = cep._run_matcher(ref_rows, ref_spec)
        assert [(s, e) for s, e, _, _ in got] == [
            (s, e) for s, e, _, _ in ref
        ], (pat, shuffled)


def test_running_final_measures():
    """Explicit RUNNING/FINAL measure keywords (Flink docs:
    queries/match_recognize §RUNNING and FINAL) in ALL ROWS mode:
    RUNNING sees rows-so-far (the default), FINAL the complete
    match — constant per match, NULL-free even on the STRT row."""
    spec = cep.parse_match_recognize("""
      PARTITION BY k ORDER BY seq
      MEASURES RUNNING COUNT(*) AS r_n, FINAL COUNT(*) AS f_n,
               FINAL LAST(U.v) AS f_last, LAST(U.v) AS r_last
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (S U+)
      DEFINE U AS U.v > PREV(U.v)
    """)
    assert spec.final_measures == {"f_n", "f_last"}
    rows = [
        {"k": 1, "seq": i, "v": float(v)}
        for i, v in enumerate([1, 3, 5, 2])
    ]
    got, _ = cep._run_matcher(rows, spec)
    out = [
        (o["seq"], o["r_n"], o["f_n"], o["f_last"], o["r_last"])
        for _, _, outs, _ in got
        for o in outs
    ]
    assert out == [
        (0, 1, 3, 5.0, None),
        (1, 2, 3, 5.0, 3.0),
        (2, 3, 3, 5.0, 5.0),
    ]
    # ONE ROW PER MATCH: both keywords accepted, both evaluate at
    # match completion (SQL/RPR: everything is FINAL there)
    one = cep.parse_match_recognize("""
      PARTITION BY k ORDER BY seq
      MEASURES RUNNING COUNT(*) AS n, FINAL LAST(U.v) AS peak
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (S U+)
      DEFINE U AS U.v > PREV(U.v)
    """)
    got1, _ = cep._run_matcher(rows, one)
    assert [
        (o["n"], o["peak"])
        for _, _, outs, _ in got1
        for o in outs
    ] == [(3, 5.0)]


def test_match_rowtime_measure():
    """MATCH_ROWTIME() (Flink docs queries/match_recognize §Time
    attributes) returns the event-time attribute of the last row
    mapped so far — RUNNING under ALL ROWS, the match's last row in
    ONE ROW mode, FINAL-prefixable like any measure."""
    spec = cep.parse_match_recognize("""
      PARTITION BY k ORDER BY seq
      MEASURES MATCH_ROWTIME() AS mr, FINAL MATCH_ROWTIME() AS mrf
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (S U+)
      DEFINE U AS U.v > PREV(U.v)
    """)
    rows = [
        {"k": 1, "seq": i, "v": float(v)}
        for i, v in enumerate([1, 3, 5, 2])
    ]
    got, _ = cep._run_matcher(rows, spec)
    assert [
        (o["seq"], o["mr"], o["mrf"])
        for _, _, outs, _ in got
        for o in outs
    ] == [(0, 0, 2), (1, 1, 2), (2, 2, 2)]


def test_unsupported_surface_is_loud(spark):
    with pytest.raises(ValueError, match="ascending"):
        cep.parse_match_recognize(
            V_CLAUSE.replace("ORDER BY tstamp", "ORDER BY tstamp DESC")
        )
    # round 8: PERMUTE and nested groups are IN the subset now — they
    # parse into the AST form (the flat list stays for flat patterns)
    for pat in ("PATTERN (PERMUTE(STRT, DOWN))",
                "PATTERN (STRT (DOWN (UP))+)"):
        spec = cep.parse_match_recognize(
            V_CLAUSE.replace("PATTERN (STRT DOWN+ UP+)", pat)
        )
        assert isinstance(spec.pattern, cep.PatternAST)
    assert isinstance(
        cep.parse_match_recognize(V_CLAUSE).pattern, list
    )
    with pytest.raises(ValueError, match="bad quantifier bound"):
        cep.parse_match_recognize(
            V_CLAUSE.replace("PATTERN (STRT DOWN+ UP+)",
                             "PATTERN (STRT DOWN{3,2} UP+)")
        )
    with pytest.raises(ValueError, match="AFTER MATCH"):
        cep.parse_match_recognize(
            V_CLAUSE.replace("AFTER MATCH SKIP PAST LAST ROW",
                             "AFTER MATCH SKIP TO PREV ROW")
        )
    with pytest.raises(ValueError, match="no such pattern variable"):
        cep.parse_match_recognize(
            V_CLAUSE.replace("AFTER MATCH SKIP PAST LAST ROW",
                             "AFTER MATCH SKIP TO LAST NOPE")
        )


def test_define_with_literals(spark):
    """Float and string literals inside DEFINE must survive the SQL→
    python translation (a \\w.\\w rewrite would corrupt 1.5 into a
    column access; '=' inside the comparison becomes '==' without
    touching the quoted string)."""
    clause = """
      PARTITION BY k
      ORDER BY seq
      MEASURES COUNT(H.*) AS n_high, LAST(H.v) AS last_v
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (S H+)
      DEFINE H AS H.v > 1.5 AND H.tag = 'hot'
    """
    spec = cep.parse_match_recognize(clause)
    rows = [
        ("a", 1, 0.5, "hot"),
        ("a", 2, 2.5, "hot"),
        ("a", 3, 3.5, "hot"),
        ("a", 4, 9.9, "cold"),  # tag breaks the run
        ("a", 5, 2.0, "hot"),
    ]
    df = spark.createDataFrame(
        rows, "k STRING, seq INT, v DOUBLE, tag STRING"
    )
    out = sorted(
        (r["n_high"], r["last_v"])
        for r in cep.match_recognize(
            df, spec, cep.infer_output_schema(spec, df)
        ).collect()
    )
    # S=row1, H=rows2-3 (row4 fails tag); then S=row4, H=row5
    assert out == [(1, 2.0), (2, 3.5)]


def test_within_bounds_matches(spark):
    """PATTERN (...) WITHIN INTERVAL bounds the first→last row span
    (Flink's state-bounding clause): rows outside the window cannot
    extend a match, so a long streak splits at the time bound."""
    clause = """
      PARTITION BY k
      ORDER BY t
      MEASURES FIRST(S.t) AS start_t, COUNT(U.*) AS n_up
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (S U+) WITHIN INTERVAL '10' SECOND
      DEFINE U AS U.v > PREV(U.v)
    """
    spec = cep.parse_match_recognize(clause)
    assert spec.within_seconds == 10
    rows = [("a", float(t), float(t)) for t in [0, 4, 8, 12, 16, 20]]
    df = spark.createDataFrame(rows, "k STRING, t DOUBLE, v DOUBLE")
    out = sorted(
        (r["start_t"], r["n_up"])
        for r in cep.match_recognize(
            df, spec, cep.infer_output_schema(spec, df)
        ).collect()
    )
    # unbounded this would be ONE match of 5 ups; WITHIN 10s splits:
    # [0,4,8], then [12,16,20]
    assert out == [(0.0, 2), (12.0, 2)]


def test_stream_match_recognize_spans_batches():
    """A match whose rows span micro-batches must be assembled from
    keyed state: batch 1 ends mid-streak (pending, nothing emitted
    for it), batch 2 continues then breaks the streak — only then is
    the match closed and emitted."""
    clause = """
      PARTITION BY k
      ORDER BY t
      MEASURES FIRST(S.t) AS start_t, LAST(U.t) AS end_t,
               COUNT(U.*) AS n_up
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (S U+)
      DEFINE U AS U.v > PREV(U.v)
    """
    got = sorted(
        (r["start_t"], r["end_t"], r["n_up"])
        for r in _mr_stream_run(
            [
                [("a", 1, 1.0), ("a", 2, 2.0)],
                [("a", 3, 3.0), ("a", 4, 0.5), ("a", 5, 9.0)],
            ],
            clause,
        )
    )
    # streak 1..3 spans the file boundary and closes at t=4; the
    # trailing 4↗5 streak stays PENDING (no closing row) — exactly
    # the streaming semantics (batch EOF would have emitted it)
    assert got == [(1, 3, 2)]


def _mr_stream_run(batches, clause, cols=("k", "t", "v")):
    """Feed one key's micro-batches (tuples in ``cols`` order) through
    the streaming fold (``cep._stream_fold``) as the watermark buffer
    releases them, and return the emitted rows. No drain follows, so
    matches still pending at the end stay unemitted."""
    fold = cep._stream_fold(cep.parse_match_recognize(clause))
    state, got = None, []
    for rows in batches:
        state, out = fold(state, [dict(zip(cols, r)) for r in rows])
        got.extend(out or [])
    return got


def test_stream_match_skip_to_var_overlaps_across_batches(spark):
    """AFTER MATCH SKIP TO LAST <var> streaming (round 10 late):
    consecutive matches SHARE the resume row, and the shared row sits
    exactly on a micro-batch cut — the start-based emission frontier
    must emit the first match while retaining its tail rows so the
    second match (starting INSIDE the first) assembles from state."""
    clause = """
      PARTITION BY k
      ORDER BY t
      MEASURES FIRST(S.t) AS start_t, LAST(T.t) AS top_t,
               LAST(T.v) AS top_v
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO LAST T
      PATTERN (S U T)
      DEFINE U AS U.v > PREV(U.v),
             T AS T.v > PREV(T.v)
    """
    # rising run t=0..5 → matches (0-2) and (2-4) sharing t=2; the
    # falling tail closes everything (the final attempt at the last
    # row runs out, but no match starts at or after it)
    rows = [("a", i, float(i + 1)) for i in range(6)] + [
        ("a", 6, 0.5), ("a", 7, 0.4), ("a", 8, 0.3),
    ]
    got = sorted(
        (r["start_t"], r["top_t"], r["top_v"])
        for r in _mr_stream_run(
            [rows[:4], rows[4:]],  # cut mid-second-match
            clause,
        )
    )
    assert got == [(0, 2, 3.0), (2, 4, 5.0)]
    # batch semantics over the same rows agree (convergence)
    import pandas as pd

    spec = cep.parse_match_recognize(clause)
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "t", "v"])
    )
    batch = sorted(
        (r["start_t"], r["top_t"], r["top_v"])
        for r in cep.match_recognize(
            df, spec, cep.infer_output_schema(spec, df)
        ).collect()
    )
    assert got == batch


def test_stream_match_to_next_overlaps_across_batches(spark):
    """SKIP TO NEXT ROW streaming: every predicate-true position
    emits, matches overlap freely, and a match whose rows straddle
    the cut assembles from state without re-emitting its
    predecessors."""
    clause = """
      PARTITION BY k
      ORDER BY t
      MEASURES FIRST(A.t) AS a_t, LAST(B.t) AS b_t
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A B)
      DEFINE A AS A.v < 50, B AS B.v > PREV(B.v)
    """
    # rising run 1..4 at t=0..3: matches at t=0,1,2 (each pair
    # rises); t=3 pairs with the 100.0 row — A.v < 50 holds at t=3,
    # 100 > 4 rises → match (3,4); t=4 fails A (100 ≥ 50) with no
    # ran-out, so everything closes
    rows = [("a", i, float(i + 1)) for i in range(4)] + [
        ("a", 4, 100.0), ("a", 5, 7.0),
    ]
    got = sorted(
        (r["a_t"], r["b_t"])
        for r in _mr_stream_run(
            [rows[:2], rows[2:4], rows[4:]],
            clause,
        )
    )
    import pandas as pd

    spec = cep.parse_match_recognize(clause)
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "t", "v"])
    )
    batch = sorted(
        (r["a_t"], r["b_t"])
        for r in cep.match_recognize(
            df, spec, cep.infer_output_schema(spec, df)
        ).collect()
    )
    assert got == batch
    assert (0, 1) in got and (1, 2) in got  # overlapping pair chain


def test_stream_fold_randomized_converges_to_batch():
    """Randomized batch-cut convergence for EVERY AFTER MATCH
    strategy: feeding a key's rows through the streaming fold in
    random chunks (plus the final drain) must emit exactly the batch
    matcher's output — whatever the cut points. This is the pin for
    the start-based emission frontier (overlapping matches must
    neither drop nor duplicate across cuts)."""
    import random

    import pandas as pd

    from flink_streaming_platform_web_spark.streaming.ooo import (
        rows_of_frame,
    )

    clauses = [
        # disjoint matches (the old end-based rule's domain)
        "PARTITION BY k ORDER BY t"
        " MEASURES FIRST(S.t) AS st, COUNT(U.*) AS nu"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (S U+) DEFINE U AS U.v > PREV(U.v)",
        # fully overlapping
        "PARTITION BY k ORDER BY t"
        " MEASURES FIRST(A.t) AS at, LAST(B.v) AS bv"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A B) DEFINE B AS B.v > PREV(B.v)",
        # endpoint-sharing (q61's shape)
        "PARTITION BY k ORDER BY t"
        " MEASURES FIRST(S.t) AS st, LAST(T.v) AS tv"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO LAST T"
        " PATTERN (S U T)"
        " DEFINE U AS U.v > PREV(U.v), T AS T.v > PREV(T.v)",
        # SKIP TO FIRST with a quantified middle
        "PARTITION BY k ORDER BY t"
        " MEASURES FIRST(A.t) AS at, COUNT(B.*) AS nb"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO FIRST C"
        " PATTERN (A B* C)"
        " DEFINE A AS A.v < 40, C AS C.v >= 70",
        # ALL ROWS PER MATCH under an overlapping strategy
        "PARTITION BY k ORDER BY t"
        " MEASURES COUNT(*) AS nsofar"
        " ALL ROWS PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A B) DEFINE A AS A.v < 50, B AS B.v >= 50",
        # PREV on the FIRST pattern variable: the probe reaches BEFORE
        # the match start, so a retained start right at the frontier
        # must still see the pre-trim predecessor row (round-11
        # lookback retention; the r10 fold trimmed it away)
        "PARTITION BY k ORDER BY t"
        " MEASURES FIRST(A.t) AS at, LAST(B.t) AS bt"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A B)"
        " DEFINE A AS A.v > PREV(A.v), B AS B.v < PREV(B.v)",
        # PREV offset 2 in MEASURES: the anchor looks two rows back,
        # possibly past the match start into the retained prefix
        "PARTITION BY k ORDER BY t"
        " MEASURES FIRST(A.t) AS at, PREV(A.v, 2) AS p2"
        " ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A) DEFINE A AS A.v >= 50",
    ]
    rng = random.Random(1009)
    for clause in clauses:
        spec = cep.parse_match_recognize(clause)
        fold = cep._stream_fold(spec)
        for trial in range(6):
            rows = [
                {"k": 1, "t": i, "v": float(rng.randint(0, 99))}
                for i in range(rng.randint(30, 80))
            ]
            want = sorted(
                tuple(sorted(d.items()))
                for d in cep._match_partition(rows, spec)
            )
            # random cut points, then stream + drain
            cuts = sorted(
                rng.sample(range(1, len(rows)), rng.randint(1, 5))
            )
            chunks, prev = [], 0
            for c in cuts + [len(rows)]:
                chunks.append(rows[prev:c])
                prev = c
            state, got = None, []
            for ch in chunks:
                # row dicts boxed as the watermark buffer boxes them
                state, out = fold(state, rows_of_frame(pd.DataFrame(ch)))
                got.extend(out or [])
            _, out = fold(state, [], True)
            got.extend(out or [])

            def _denan(v):
                # both real routes (batch applyInPandas / streaming
                # state fold) hand Spark a pandas frame, where a None
                # measure in a float64 column is NaN, so the
                # fold-level differential normalizes NaN and None
                # rather than distinguishing them.
                return (
                    None
                    if isinstance(v, float) and v != v
                    else v
                )

            got_s = sorted(
                tuple((k2, _denan(v)) for k2, v in sorted(d.items()))
                for d in got
            )
            want = sorted(
                tuple((k2, _denan(v)) for k2, v in sorted(d.items()))
                for d in (dict(t) for t in want)
            )
            assert got_s == want, (clause, trial, cuts)
        assert want or clause, clause


def test_stream_match_recognize_rejects_out_of_order():
    """The fold asserts its per-key frontier invariant, not assumes
    it: a batch starting before the buffered tail fails loudly."""
    with pytest.raises(Exception, match="out-of-order"):
        _mr_stream_run(
            [
                [("a", 10, 1.0), ("a", 11, 2.0)],
                [("a", 3, 3.0)],  # late row
            ],
            """PARTITION BY k
               ORDER BY t
               MEASURES FIRST(S.t) AS start_t
               ONE ROW PER MATCH
               AFTER MATCH SKIP PAST LAST ROW
               PATTERN (S U+)
               DEFINE U AS U.v > PREV(U.v)""",
        )


def test_stream_backtracked_match_stays_pending():
    """A match found by BACKTRACKING after a greedy quantifier hit the
    buffer end could still grow with future rows — it must stay
    pending, not emit early (code-review r5 finding): pattern (A+ B)
    over v=[1,5,1 | 1,5 | -1] has exactly ONE batch-semantics match
    (A=rows0-3, B=row4); a premature batch-1 emission would have
    produced A=[row0], B=row1."""
    out = _mr_stream_run(
        [
            [("a", 1, 1.0), ("a", 2, 5.0), ("a", 3, 1.0)],
            [("a", 4, 1.0), ("a", 5, 5.0)],
            [("a", 6, -1.0)],
        ],
        """PARTITION BY k
           ORDER BY t
           MEASURES FIRST(A.t) AS start_t, COUNT(A.*) AS n_a,
                    LAST(B.t) AS b_t
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (A+ B)
           DEFINE A AS A.v > 0, B AS B.v = 5""",
    )
    got = [(r["start_t"], r["n_a"], r["b_t"]) for r in out]
    assert got == [(1, 4, 5)]


def test_measure_arithmetic_composes(spark):
    """MEASURES may combine navigation/aggregate calls with
    arithmetic — LAST(UP.price) - FIRST(DOWN.price) style (the
    Flink docs use such measures); the translator composes the
    helpers inside one expression."""
    clause = V_CLAUSE.replace(
        "LAST(UP.tstamp) AS end_tstamp",
        "LAST(UP.price) - FIRST(DOWN.price) AS recovery",
    )
    spec = cep.parse_match_recognize(clause)
    df = _ticker_df(spark)
    out = cep.match_recognize(
        df, spec,
        "symbol string, start_tstamp int, bottom_tstamp int,"
        " recovery double",
    ).collect()
    # match: bottom 12 (t=6) recovering to 25 (t=11) → 25 - 12 = 13
    assert [(r["symbol"], r["recovery"]) for r in out] == [
        ("ACME", 13.0)
    ]


# -- round-6 clause surface: alternation, ALL ROWS, SKIP TO, reluctant ----

def _matcher_rows(vals):
    return [{"k": "a", "seq": i, "v": float(v)} for i, v in enumerate(vals)]


def _v_spec(after_match: str) -> "cep.MatchSpec":
    return cep.parse_match_recognize(f"""
      PARTITION BY k
      ORDER BY seq
      MEASURES FIRST(STRT.v) AS start_v, LAST(UP.v) AS top_v
      ONE ROW PER MATCH
      AFTER MATCH {after_match}
      PATTERN (STRT DOWN+ UP)
      DEFINE DOWN AS DOWN.v < PREV(DOWN.v),
             UP AS UP.v > PREV(UP.v)
    """)


def test_skip_to_last_var_overlaps_on_shared_row():
    """AFTER MATCH SKIP TO LAST UP (the Flink Ticker doc's strategy):
    the next scan resumes AT the last UP row, so adjacent V-shapes
    share their peak/start row — vs SKIP PAST LAST ROW, which
    consumes it."""
    vals = [12, 10, 8, 11, 9, 7, 10]
    to_last, _ = cep._run_matcher(
        _matcher_rows(vals), _v_spec("SKIP TO LAST UP")
    )
    assert [(o[0]["start_v"], o[0]["top_v"]) for _, _, o, _ in to_last] == [
        (12.0, 11.0), (11.0, 10.0)
    ]
    past, _ = cep._run_matcher(
        _matcher_rows(vals), _v_spec("SKIP PAST LAST ROW")
    )
    assert [(o[0]["start_v"], o[0]["top_v"]) for _, _, o, _ in past] == [
        (12.0, 11.0), (9.0, 10.0)
    ]


def test_skip_to_first_var():
    """SKIP TO FIRST DOWN resumes at the first descending row of the
    previous match — every suffix V inside a long slide is found."""
    vals = [12, 10, 8, 11, 9, 7, 10]
    got, _ = cep._run_matcher(
        _matcher_rows(vals), _v_spec("SKIP TO FIRST DOWN")
    )
    assert [o[0]["start_v"] for _, _, o, _ in got] == [
        12.0, 10.0, 11.0, 9.0
    ]


def test_skip_to_first_of_match_start_is_loud():
    """Resuming at the match's own first row would loop forever — the
    SQL/RPR runtime error, raised eagerly."""
    with pytest.raises(ValueError, match="infinite loop"):
        cep._run_matcher(
            _matcher_rows([12, 10, 8, 11]),
            _v_spec("SKIP TO FIRST STRT"),
        )


def test_reluctant_plus_takes_fewest():
    """B+? stops at the first position where the remainder matches
    (vs greedy B+, which backtracks from the longest run)."""
    clause_tpl = """
      PARTITION BY k
      ORDER BY seq
      MEASURES COUNT(B.*) AS n_b
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B{q} C)
      DEFINE C AS C.v = 9
    """
    vals = [1, 2, 9, 3, 9]
    greedy, _ = cep._run_matcher(
        _matcher_rows(vals),
        cep.parse_match_recognize(clause_tpl.format(q="+")),
    )
    assert [o[0]["n_b"] for _, _, o, _ in greedy] == [3]
    reluctant, _ = cep._run_matcher(
        _matcher_rows(vals),
        cep.parse_match_recognize(clause_tpl.format(q="+?")),
    )
    # stops at the FIRST 9 (n_b=1); the remaining rows [3, 9] cannot
    # fit A B+ C again, so one match either way — but with different
    # extents (3 B-rows greedy vs 1 reluctant)
    assert [o[0]["n_b"] for _, _, o, _ in reluctant] == [1]


def test_reluctant_optional():
    """B?? prefers zero repetitions; greedy B? prefers one."""
    clause_tpl = """
      PARTITION BY k
      ORDER BY seq
      MEASURES COUNT(B.*) AS n_b, COUNT(*) AS n_rows
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B{q} C)
      DEFINE C AS C.v = 9
    """
    vals = [1, 9, 9]
    greedy, _ = cep._run_matcher(
        _matcher_rows(vals),
        cep.parse_match_recognize(clause_tpl.format(q="?")),
    )
    assert [(o[0]["n_b"], o[0]["n_rows"]) for _, _, o, _ in greedy] == [
        (1, 3)
    ]
    reluctant, _ = cep._run_matcher(
        _matcher_rows(vals),
        cep.parse_match_recognize(clause_tpl.format(q="??")),
    )
    assert [(o[0]["n_b"], o[0]["n_rows"]) for _, _, o, _ in reluctant] == [
        (0, 2)
    ]


def test_alternation_prefers_leftmost():
    """(A|B) is ordered choice: when both alternatives admit the row,
    the leftmost matches (SQL/RPR preferment)."""
    spec = cep.parse_match_recognize("""
      PARTITION BY k
      ORDER BY seq
      MEASURES COUNT(X.*) AS n_x, COUNT(Y.*) AS n_y
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (S (X|Y))
      DEFINE X AS X.v > 0, Y AS Y.v > 0
    """)
    got, _ = cep._run_matcher(_matcher_rows([1, 2]), spec)
    assert [(o[0]["n_x"], o[0]["n_y"]) for _, _, o, _ in got] == [(1, 0)]


def test_quantified_alternation_group():
    """(U|D)+ consumes a mixed run, assigning each row to its own
    alternative."""
    spec = cep.parse_match_recognize("""
      PARTITION BY k
      ORDER BY seq
      MEASURES COUNT(U.*) AS n_u, COUNT(D.*) AS n_d
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (S (U|D)+)
      DEFINE U AS U.v > PREV(U.v), D AS D.v < PREV(D.v)
    """)
    # 5 →8(U) →3(D) →9(U) →9(neither: run ends)
    got, _ = cep._run_matcher(_matcher_rows([5, 8, 3, 9, 9]), spec)
    assert [(o[0]["n_u"], o[0]["n_d"]) for _, _, o, _ in got] == [(2, 1)]


def test_all_rows_per_match_running_measures():
    """ALL ROWS PER MATCH emits every matched row with RUNNING
    measures (count-so-far; LAST over a yet-unmatched variable is
    NULL)."""
    spec = cep.parse_match_recognize("""
      PARTITION BY k
      ORDER BY seq
      MEASURES COUNT(*) AS step_no, LAST(UP.v) AS run_v
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (STRT UP+)
      DEFINE UP AS UP.v > PREV(UP.v)
    """)
    got, _ = cep._run_matcher(_matcher_rows([1, 4, 6, 2]), spec)
    assert len(got) == 1
    outs = got[0][2]
    assert [(o["v"], o["step_no"], o["run_v"]) for o in outs] == [
        (1.0, 1, None), (4.0, 2, 4.0), (6.0, 3, 6.0)
    ]


def test_bounded_quantifiers():
    """{n}, {n,}, {n,m} bounds (Flink docs: match_recognize
    §Quantifiers): exact, at-least (greedy), and ranged (greedy)."""
    clause_tpl = """
      PARTITION BY k
      ORDER BY seq
      MEASURES COUNT(U.*) AS n_u
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (STRT U{q})
      DEFINE U AS U.v > PREV(U.v)
    """
    vals = [1, 2, 3, 4, 5, 0, 1, 2]  # rising runs: len 5, len 3
    def run(q):
        got, _ = cep._run_matcher(
            _matcher_rows(vals),
            cep.parse_match_recognize(clause_tpl.format(q=q)),
        )
        return [o[0]["n_u"] for _, _, o, _ in got]

    # exactly 2: island of 4 rises gives floor(4/3)=1 match consuming
    # 3 rows then 0+1 rises left; second island (2 rises) gives 1
    assert run("{2}") == [2, 2]
    # at least 2, greedy: takes the whole run
    assert run("{2,}") == [4, 2]
    # between 2 and 3, greedy: caps at 3
    assert run("{2,3}") == [3, 2]
    # reluctant ranged: prefers the minimum (the leftover single rise
    # of the first island cannot seed another ≥2 match)
    assert run("{2,3}?") == [2, 2]


def test_classifier_measure():
    """CLASSIFIER() (Flink docs: match_recognize §Measures): the
    matched variable name — per-row under ALL ROWS (running), the
    last row's variable under ONE ROW."""
    spec = cep.parse_match_recognize("""
      PARTITION BY k
      ORDER BY seq
      MEASURES CLASSIFIER() AS var_name, COUNT(*) AS step_no
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (S (U|D))
      DEFINE U AS U.v > PREV(U.v), D AS D.v < PREV(D.v)
    """)
    got, _ = cep._run_matcher(_matcher_rows([5, 8, 9, 3]), spec)
    flat = [
        (o["v"], o["var_name"], o["step_no"])
        for _, _, outs, _ in got
        for o in outs
    ]
    assert flat == [
        (5.0, "S", 1), (8.0, "U", 2),
        (9.0, "S", 1), (3.0, "D", 2),
    ]
    one = cep.parse_match_recognize("""
      PARTITION BY k
      ORDER BY seq
      MEASURES CLASSIFIER() AS var_name
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (S (U|D))
      DEFINE U AS U.v > PREV(U.v), D AS D.v < PREV(D.v)
    """)
    got2, _ = cep._run_matcher(_matcher_rows([5, 8, 9, 3]), one)
    assert [o[0]["var_name"] for _, _, o, _ in got2] == ["U", "D"]


def test_stream_all_rows_per_match():
    """STREAMING MATCH_RECOGNIZE under ALL ROWS PER MATCH: a match
    closed by later input emits one row per matched row with RUNNING
    measures, matches spanning micro-batches."""
    out = _mr_stream_run(
        [
            [("a", 1, 1.0), ("a", 2, 5.0)],
            [("a", 3, 7.0), ("a", 4, 0.0)],
        ],
        """
      PARTITION BY k
      ORDER BY seq
      MEASURES COUNT(*) AS step_no, LAST(UP.v) AS run_v
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (STRT UP+)
      DEFINE UP AS UP.v > PREV(UP.v)
    """,
        cols=("k", "seq", "v"),
    )
    rows = sorted(
        (r["seq"], r["v"], r["step_no"], r["run_v"]) for r in out
    )
    # the rising run 1→5→7 closes when 0.0 arrives; the STRT row's
    # running LAST(UP.v) is NULL
    assert rows == [
        (1, 1.0, 1, None), (2, 5.0, 2, 5.0), (3, 7.0, 3, 7.0)
    ]


def test_runner_sql_route_all_rows(spark, tmp_path):
    """ALL ROWS PER MATCH through the runner's SQL route: the match
    view carries every input column plus measures, and the outer
    select/filter work over it unchanged."""
    import json as _json

    from flink_streaming_platform_web_spark.streaming.runner import (
        JobRunner,
    )

    src = tmp_path / "allrows_sql"
    src.mkdir()
    (src / "t.json").write_text(
        "\n".join(
            _json.dumps({"k": "a", "seq": s, "v": v})
            for s, v in [(1, 1.0), (2, 4.0), (3, 6.0), (4, 2.0)]
        )
    )
    runner = JobRunner(spark, mode="batch")
    runner.execute_script(
        f"""
        CREATE TABLE src_rows (k STRING, seq BIGINT, v DOUBLE)
          WITH ('connector'='filesystem','path'='{src}',
                'format'='json');
        CREATE TABLE mr_all (k STRING, seq BIGINT, v DOUBLE,
          step_no BIGINT) WITH ('connector'='memory');
        INSERT INTO mr_all
        SELECT k, seq, v, step_no
        FROM src_rows MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY seq
          MEASURES COUNT(*) AS step_no
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (STRT UP+)
          DEFINE UP AS UP.v > PREV(UP.v)
        ) WHERE step_no >= 2;
        """
    )
    rows = sorted(
        (r["seq"], r["step_no"])
        for r in spark.table("mr_all").collect()
    )
    # the rising run 1→4→6 emits three rows; the outer WHERE drops
    # the step_no=1 STRT row
    assert rows == [(2, 2), (3, 3)]


def test_runner_sql_route_desc_secondary_order(spark, tmp_path):
    """DESC secondary ORDER BY through the BATCH runner SQL route:
    within one g tie-group the scan runs seq-descending, flipping
    the LO→HI adjacencies vs ASC (same fixture as the operator-API
    test: DESC pairs (3,2),(1,5))."""
    import json as _json

    from flink_streaming_platform_web_spark.streaming.runner import (
        JobRunner,
    )

    src = tmp_path / "desc_sql"
    src.mkdir()
    rows = [
        ("a", 1, 1, 2.0), ("a", 1, 2, 9.0), ("a", 1, 3, 1.0),
        ("a", 1, 4, 7.0), ("a", 2, 5, 8.0),
    ]
    (src / "t.json").write_text(
        "\n".join(
            _json.dumps({"k": k, "g": g, "seq": s, "v": v})
            for k, g, s, v in rows
        )
    )
    runner = JobRunner(spark, mode="batch")
    runner.execute_script(
        f"""
        CREATE TABLE src_desc (k STRING, g BIGINT, seq BIGINT,
          v DOUBLE) WITH ('connector'='filesystem','path'='{src}',
                          'format'='json');
        CREATE TABLE mr_desc (k STRING, lo_seq BIGINT,
          hi_seq BIGINT) WITH ('connector'='memory');
        INSERT INTO mr_desc
        SELECT k, lo_seq, hi_seq
        FROM src_desc MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY g, seq DESC
          MEASURES FIRST(LO.seq) AS lo_seq, FIRST(HI.seq) AS hi_seq
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (LO HI)
          DEFINE LO AS LO.v < 5.0, HI AS HI.v >= 5.0
        );
        """
    )
    got = sorted(
        (r["lo_seq"], r["hi_seq"])
        for r in spark.table("mr_desc").collect()
    )
    assert got == [(1, 5), (3, 2)]


def test_matcher_differential_vs_regex():
    """Randomized differential check of the pattern engine: with
    DISJOINT current-row-only defines, each row maps to one letter
    and SQL/RPR pattern semantics (leftmost-preferred alternation,
    greedy/reluctant quantifiers, bounds, SKIP PAST LAST ROW scan)
    coincide with Python's regex engine — the same backtracking
    preferment rules, independently implemented. 300 random
    pattern/data trials compare every match extent."""
    import random
    import re as _re

    rng = random.Random(987)
    # disjoint defines: value bands map rows to letters a/b/c; S = any
    defines = {
        "A": "A.v < 3",
        "B": "B.v >= 3 AND B.v < 7",
        "C": "C.v >= 7",
    }

    def letter(v):
        return "a" if v < 3 else ("b" if v < 7 else "c")

    quants = ["", "+", "*", "?", "+?", "*?", "??",
              "{2}", "{2,}", "{1,3}", "{1,3}?"]

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
        # at least one mandatory element: empty matches are out of the
        # differential's scope (the matcher treats them as no-match)
        if not any(
            q in ("", "+", "+?", "{2}", "{2,}", "{1,3}", "{1,3}?")
            for _, (_, q) in elements
        ):
            elements[rng.randrange(n_el)] = ("A+", ("A", "+"))
        pat_txt = " ".join(t for t, _ in elements)
        regex = _re.compile(
            "".join(to_regex(v, q) for _, (v, q) in elements)
        )
        vals = [float(rng.randint(0, 9)) for _ in range(rng.randint(8, 25))]
        text = "".join(letter(v) for v in vals)

        spec = cep.parse_match_recognize(f"""
          PARTITION BY k
          ORDER BY seq
          MEASURES COUNT(*) AS n
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN ({pat_txt})
          DEFINE A AS {defines['A']}, B AS {defines['B']},
                 C AS {defines['C']}
        """)
        got, _ = cep._run_matcher(_matcher_rows(vals), spec)
        got_spans = [(s, e) for s, e, _, _ in got]

        ref_spans = []
        pos = 0
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


# -- round-8: nested groups + PERMUTE ------------------------------------

def _letters_spec(pattern: str) -> "cep.MatchSpec":
    """Disjoint value-band defines (a: v<3, b: 3<=v<7, c: v>=7) so a
    pattern over A/B/C corresponds 1:1 to a regex over the letter
    string — the same scheme as the flat differential above."""
    return cep.parse_match_recognize(f"""
      PARTITION BY k
      ORDER BY seq
      MEASURES COUNT(*) AS n
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN ({pattern})
      DEFINE A AS A.v < 3, B AS B.v >= 3 AND B.v < 7, C AS C.v >= 7
    """)


def _spans(vals, pattern):
    got, _ = cep._run_matcher(
        _matcher_rows(vals), _letters_spec(pattern)
    )
    return [(s, e) for s, e, _, _ in got]


def test_nested_group_quantified():
    """(A (B C)+) — a quantified NESTED sequence group: the inner
    pair must repeat as a unit, not element-wise."""
    #        a  b  c  b  c  b   (b alone cannot close a (B C) pair)
    vals = [1, 4, 8, 5, 9, 4]
    assert _spans(vals, "A (B C)+") == [(0, 5)]
    # inner pair missing entirely → no match
    assert _spans([1, 1, 8], "A (B C)+") == []


def test_nested_group_alternation_of_sequences():
    """((A B | C)) — alternation whose branches are SEQUENCES, the
    shape the flat parser could not express; leftmost branch
    preferred."""
    vals = [1, 4, 8, 1, 4]  # a b c a b
    assert _spans(vals, "(A B | C)") == [(0, 2), (2, 3), (3, 5)]
    # preference: A B wins over C when both could start at 0? they
    # cannot here — but at index 2 only C applies


def test_nested_groups_two_deep():
    """(A (B (C)? )+ ) — two nesting levels with an optional inner."""
    vals = [1, 4, 8, 4, 1]  # a b c b a
    assert _spans(vals, "A (B (C)?)+") == [(0, 4)]


def test_permute_expands_lexicographically():
    """PERMUTE(A, B) ≡ (A B | B A) with the original order preferred
    (Flink docs: queries/match_recognize §PERMUTE)."""
    assert _spans([1, 4, 4, 1], "PERMUTE(A, B)") == [(0, 2), (2, 4)]
    # three-way permute consumes any ordering of a/b/c triples
    assert _spans(
        [1, 4, 8, 8, 4, 1], "PERMUTE(A, B, C)"
    ) == [(0, 3), (3, 6)]


def test_permute_too_wide_is_loud():
    import pytest

    # round-8 late: the lazy used-set walk raised the cap 5 → 10
    # (the eager k!-branch expansion is gone); width 6 now matches
    assert _spans(
        [1, 4, 8, 1, 4, 8], "PERMUTE(A, B, C, A, B, C)"
    ) == [(0, 6)]
    # round 11: the cap moved from parse time to the NFA engine
    # (band-disjoint wide PERMUTE compiles to tier P instead) — the
    # spec PARSES, the factorial walk refuses
    spec = _letters_spec("PERMUTE(A, B, C, A, B, C, A, B, C, A, B)")
    with pytest.raises(ValueError, match="11! orderings"):
        cep._run_matcher(_matcher_rows([1, 4, 8]), spec)


def test_permute_atom_dfs_equals_general_path():
    """The all-simple-atom PERMUTE fast path (used-set DFS with
    prefix pruning) must equal the general ordering-outermost walk.
    ``PERMUTE((A), (B))`` parses each element as an alt GROUP, which
    routes the same semantics through the general path — 150 random
    trials with OVERLAPPING classes (S is undefined → always true),
    the case where ordering preference decides the binding."""
    import random

    rng = random.Random(2024)
    for _ in range(150):
        k = rng.randint(2, 4)
        vars_ = [rng.choice(["A", "B", "C", "S"]) for _ in range(k)]
        fast = "PERMUTE(" + ", ".join(vars_) + ")"
        slow = "PERMUTE(" + ", ".join(f"({v})" for v in vars_) + ")"
        vals = [float(rng.randint(0, 9)) for _ in range(rng.randint(4, 16))]

        def run(pattern):
            spec = cep.parse_match_recognize(f"""
              PARTITION BY k ORDER BY seq
              MEASURES COUNT(*) AS n, CLASSIFIER() AS lv
              ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
              PATTERN ({pattern})
              DEFINE A AS A.v < 3, B AS B.v >= 3 AND B.v < 7,
                     C AS C.v >= 7
            """)
            got, _ = cep._run_matcher(_matcher_rows(vals), spec)
            # spans AND the binding-sensitive CLASSIFIER measure
            return [(s, e, tuple(sorted(o.items())))
                    for s, e, outs, _ in got for o in outs]

        assert run(fast) == run(slow), (fast, vals)


def test_permute_composes_with_quantifiers_and_groups():
    """PERMUTE is an ordinary pattern factor: quantified directly,
    nested inside alternation branches, and inside a bounded nested
    group — each repetition picks its own ordering."""
    # one-or-more AB pairs, per-pair order free: ab ba ab
    assert _spans([1, 4, 4, 1, 1, 4], "PERMUTE(A, B)+") == [(0, 6)]
    # inside a group alternation (leftmost branch matches here)
    assert _spans([1, 4, 8], "(PERMUTE(A, B) C | C)") == [(0, 3)]
    # inside a bounded nested group: exactly two pairs then C
    assert _spans(
        [1, 4, 4, 1, 8], "(PERMUTE(A, B)){2} C"
    ) == [(0, 5)]


def test_permute_respects_within():
    """PATTERN (PERMUTE(...)) WITHIN: the time bound applies to the
    whole match exactly as for any other pattern."""
    spec = cep.parse_match_recognize("""
      PARTITION BY k ORDER BY ts
      MEASURES COUNT(*) AS n
      ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      PATTERN (PERMUTE(A, B)) WITHIN INTERVAL '10' SECOND
      DEFINE A AS A.v < 3, B AS B.v >= 3
    """)
    # (b a) spans 5 s → match; the next (a b) spans 20 s → rejected
    rows = [
        {"k": 1, "ts": 0.0, "v": 5.0},
        {"k": 1, "ts": 5.0, "v": 1.0},
        {"k": 1, "ts": 30.0, "v": 1.0},
        {"k": 1, "ts": 50.0, "v": 5.0},
    ]
    got, _ = cep._run_matcher(rows, spec)
    assert [(s, e) for s, e, _, _ in got] == [(0, 2)]


def test_permute_differential_vs_eager_expansion():
    """The native used-set PERMUTE walk must equal the eager
    lexicographic alternation expansion it replaced — reference =
    Python regex over the expansion's branches, leftmost-preferred,
    under the same SKIP PAST LAST ROW scan. 200 random trials with
    quantified and alternated elements."""
    import random
    import re as _re
    from itertools import permutations

    rng = random.Random(31337)
    CH = {"A": "a", "B": "b", "C": "c"}

    def rand_elem():
        # an element: var, var+quant, or a 2-var alternation
        r = rng.random()
        if r < 0.5:
            v = rng.choice("ABC")
            return v, CH[v]
        if r < 0.8:
            v = rng.choice("ABC")
            q = rng.choice(["+", "?", "{1,2}"])
            return v + q, CH[v] + q
        a, b = rng.sample("ABC", 2)
        return f"({a}|{b})", f"(?:{CH[a]}|{CH[b]})"

    for _ in range(200):
        k = rng.randint(2, 4)
        elems = [rand_elem() for _ in range(k)]
        pat_txt = "PERMUTE(" + ", ".join(t for t, _ in elems) + ")"
        # eager expansion reference: alternation of permutations in
        # lexicographic (original-order-first) order — regex `|`
        # is leftmost-preferred, the same ordered choice
        regex = _re.compile(
            "|".join(
                "".join(rx for _, rx in perm)
                for perm in permutations(elems)
            )
        )
        vals = [float(rng.randint(0, 9)) for _ in range(rng.randint(4, 18))]
        text = "".join(
            "a" if v < 3 else ("b" if v < 7 else "c") for v in vals
        )
        got = _spans(vals, pat_txt)
        ref, pos = [], 0
        while pos < len(text):
            m = regex.match(text, pos)
            if m and m.end() > m.start():
                ref.append((m.start(), m.end()))
                pos = m.end()
            else:
                pos += 1
        assert got == ref, (pat_txt, text, got, ref)


def test_nested_differential_vs_regex():
    """Randomized differential for the NESTED pattern engine: random
    two-level patterns over disjoint letter classes must produce
    exactly Python's regex spans under the same SKIP PAST LAST ROW
    scan — 150 trials."""
    import random
    import re as _re

    rng = random.Random(4242)

    def letter(v):
        return "a" if v < 3 else ("b" if v < 7 else "c")

    ch = {"A": "a", "B": "b", "C": "c", "S": "."}
    quants = ["", "+", "*", "?", "+?", "{1,2}", "{2}"]

    def atom():
        v = rng.choice(["A", "B", "C", "S"])
        return v, ch[v]

    def group():
        n = rng.randint(1, 3)
        if rng.random() < 0.4 and n >= 2:
            # alternation of short sequences
            branches = []
            for _ in range(2):
                seq = [atom() for _ in range(rng.randint(1, 2))]
                branches.append(seq)
            pat = "(" + " | ".join(
                " ".join(p for p, _ in b) for b in branches
            ) + ")"
            rex = "(?:" + "|".join(
                "".join(r for _, r in b) for b in branches
            ) + ")"
        else:
            seq = [atom() for _ in range(n)]
            pat = "(" + " ".join(p for p, _ in seq) + ")"
            rex = "(?:" + "".join(r for _, r in seq) + ")"
        q = rng.choice(quants)
        return pat + q, rex + q

    for _ in range(150):
        parts = [group() for _ in range(rng.randint(1, 3))]
        # anchor with one mandatory atom so empty matches are out of
        # scope (same contract as the flat differential)
        v, r = atom()
        if v == "S":
            v, r = "A", "a"
        parts.append((v, r))
        pat_txt = " ".join(p for p, _ in parts)
        regex = _re.compile("".join(r for _, r in parts))
        vals = [
            float(rng.randint(0, 9)) for _ in range(rng.randint(8, 22))
        ]
        text = "".join(letter(v) for v in vals)
        got_spans = _spans(vals, pat_txt)
        ref_spans = []
        pos = 0
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


def test_nested_all_rows_running_measures():
    """ALL ROWS PER MATCH over a NESTED pattern: one output row per
    matched input row with RUNNING COUNT(*) — the walker-agnostic
    emission path must see the AST match's full assignment."""
    spec = cep.parse_match_recognize("""
      PARTITION BY k
      ORDER BY seq
      MEASURES COUNT(*) AS n
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A (B C)+)
      DEFINE A AS A.v < 3, B AS B.v >= 3 AND B.v < 7, C AS C.v >= 7
    """)
    rows = _matcher_rows([1, 4, 8, 4, 8])
    matches, _ = cep._run_matcher(rows, spec)
    assert len(matches) == 1
    outs = matches[0][2]
    assert [o["n"] for o in outs] == [1, 2, 3, 4, 5]


def test_nested_skip_to_last_var():
    """AFTER MATCH SKIP TO LAST <var> resumes at the variable's last
    matched row even when the pattern is AST-walked."""
    spec = cep.parse_match_recognize("""
      PARTITION BY k
      ORDER BY seq
      MEASURES COUNT(*) AS n
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO LAST B
      PATTERN (A (B)+)
      DEFINE A AS A.v < 3, B AS B.v >= 3 AND B.v < 7
    """)
    rows = _matcher_rows([1, 4, 4, 1, 4, 4])
    matches, _ = cep._run_matcher(rows, spec)
    spans = [(s, e) for s, e, _o, _r in matches]
    # match 1 consumes 0-2; resume at its last B (idx 2), which fails
    # to start a match; match 2 is 3-5
    assert spans == [(0, 3), (3, 6)]


def test_zero_width_group_quantifier():
    """A {0}-quantified group matches empty — (B C){0} degenerates
    the pattern to A C."""
    spec = cep.parse_match_recognize("""
      PARTITION BY k
      ORDER BY seq
      MEASURES COUNT(*) AS n
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A (B C){0} C)
      DEFINE A AS A.v < 3, B AS B.v >= 3 AND B.v < 7, C AS C.v >= 7
    """)
    rows = _matcher_rows([1.0, 8.0])
    matches, _ = cep._run_matcher(rows, spec)
    assert [(s, e) for s, e, _o, _r in matches] == [(0, 2)]


def test_global_pattern_without_partition_by(spark):
    """Flink 1.13 allows MATCH_RECOGNIZE without PARTITION BY (a
    global pattern, parallelism 1 in Flink's own runtime). Round 10:
    the missing clause routes through a constant grouping key — the
    result must equal the same pattern run with an explicit constant
    partition column, and the output schema must carry no key
    column."""
    import pandas as pd

    from flink_streaming_platform_web_spark.operators.cep import (
        infer_output_schema,
        match_recognize,
        parse_match_recognize,
    )

    import random

    rng = random.Random(53)
    rows = [
        {"ts": i, "v": float(rng.randint(0, 99))} for i in range(300)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    body = (
        " ORDER BY ts"
        " MEASURES FIRST(S.ts) AS s_ts, LAST(U.v) AS peak,"
        " COUNT(U.*) AS n_up"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (S U+)"
        " DEFINE U AS U.v > PREV(U.v)"
    )
    spec = parse_match_recognize(body)
    assert spec.partition_by == []
    out = match_recognize(df, spec, infer_output_schema(spec, df))
    assert out.columns == ["s_ts", "peak", "n_up"]
    got = sorted(map(tuple, out.collect()))

    from pyspark.sql import functions as F

    kdf = df.withColumn("k", F.lit(1))
    kspec = parse_match_recognize("PARTITION BY k" + body)
    want = sorted(
        tuple(r)[1:]  # drop the key column
        for r in match_recognize(
            kdf, kspec, infer_output_schema(kspec, kdf)
        ).select("k", "s_ts", "peak", "n_up").collect()
    )
    assert got == want
    assert got, "vacuous"


def test_global_pattern_streaming(spark, tmp_path):
    """Global (unpartitioned) streaming MATCH_RECOGNIZE: constant-key
    state group, same matches as the batch run over the same rows."""
    import pandas as pd

    from flink_streaming_platform_web_spark.operators.cep import (
        infer_output_schema,
        match_recognize,
        parse_match_recognize,
        stream_match_recognize,
    )
    from flink_streaming_platform_web_spark.streaming.ooo import (
        drain_pending,
    )

    import random

    rng = random.Random(59)
    t0 = pd.Timestamp("2024-01-01")
    rows = [
        {"ts": t0 + pd.Timedelta(seconds=i), "v": float(rng.randint(0, 9))}
        for i in range(120)
    ]
    pdf = pd.DataFrame(rows)
    src = tmp_path / "in"
    src.mkdir()
    # ts-ordered files: a later file's rows stay after the watermark
    # the earlier ones set, so none is dropped late
    for i in range(0, 120, 40):
        spark.createDataFrame(pdf.iloc[i: i + 40]).coalesce(
            1
        ).write.mode("append").parquet(str(src))
    body = (
        " ORDER BY ts"
        " MEASURES FIRST(S.ts) AS s_ts, COUNT(U.*) AS n_up"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (S U+)"
        " DEFINE U AS U.v > PREV(U.v)"
    )
    spec = parse_match_recognize(body)
    batch_df = spark.read.parquet(str(src))
    want = sorted(
        map(
            tuple,
            match_recognize(
                batch_df, spec, infer_output_schema(spec, batch_df)
            ).collect(),
        )
    )
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "1 second")
    )
    drains: list = []
    out = stream_match_recognize(
        stream, spec, infer_output_schema(spec, batch_df),
        drain_out=drains,
    )
    qname = "global_cep_test"
    ckpt = str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # stop-with-drain: the rows the watermark never passed
    tail = drain_pending(spark, ckpt, drains[0])
    got = sorted(
        map(
            tuple,
            spark.sql(f"SELECT * FROM {qname}").collect()
            + (
                tail.select(*out.columns).collect()
                if tail is not None
                else []
            ),
        )
    )
    # everything emitted must be a prefix of the batch result (the
    # drain closes the tail match as batch EOF does)
    assert got == want[: len(got)] or set(got) <= set(want)
    assert len(got) >= len(want) - 2
    assert got, "vacuous"


def test_stream_fold_attempt_cache_round_trips():
    """The decided-attempt memo must survive the pickle round-trip and
    actually answer retained starts from cache: feed a key whose
    frontier is held back by a pending greedy run, and count NFA
    walks via a counting wrapper — starts decided in batch 1 and
    retained must not be re-walked in batch 2."""
    import pickle

    clause = (
        "PARTITION BY k ORDER BY t"
        " MEASURES FIRST(A.t) AS at ONE ROW PER MATCH"
        " AFTER MATCH SKIP TO NEXT ROW PATTERN (A B)"
        " DEFINE A AS A.v < 50, B AS B.v >= 50"
    )
    spec = cep.parse_match_recognize(clause)
    fold = cep._stream_fold(spec)
    # batch 1: decided matches at t=0..2 (each <50 followed by >=50?)
    rows1 = [
        {"k": 1, "t": 0, "v": 10.0},
        {"k": 1, "t": 1, "v": 60.0},
        {"k": 1, "t": 2, "v": 20.0},
        {"k": 1, "t": 3, "v": 30.0},  # pending: A matched, B probes end
    ]
    state, out = fold(None, rows1)
    tail, cache, scan_from = pickle.loads(state)
    # t=0 emitted (start < frontier); the retained suffix starts at
    # the first undecided start; decided fails inside it are cached
    assert isinstance(cache, dict)
    assert all(isinstance(k2, int) for k2 in cache)
    # every cached entry is rebased into the kept buffer
    assert all(0 <= k2 < len(tail) for k2 in cache)
    # batch 2 closes everything; output must equal the batch matcher
    rows2 = [{"k": 1, "t": 4, "v": 70.0}]
    state2, out2 = fold(state, rows2)
    _, out3 = fold(state2, [], True)
    got = []
    for o in (out, out2, out3):
        if o is not None:
            got.extend(r["at"] for r in o)
    want = [
        d["at"]
        for d in cep._match_partition(rows1 + rows2, spec)
    ]
    assert sorted(got) == sorted(want)


def test_stream_fold_within_datetime_randomized():
    """Streaming WITHIN over a DATETIME order column, randomized
    batch cuts vs the batch matcher. Pins the round-13 arrays path:
    the fold's row values must keep to_dict-compatible types (boxed
    Timestamps), and the scalar WITHIN check must compute SECONDS
    whatever scalar type the order values carry — the parity gate
    caught a version where np.datetime64 values made float(b - a)
    return raw MICROSECONDS, silently failing every within-bound
    match (st20 went to 0 rows)."""
    import random

    import pandas as pd

    from flink_streaming_platform_web_spark.streaming.ooo import (
        rows_of_frame,
    )

    clause = (
        "PARTITION BY k ORDER BY ts"
        " MEASURES FIRST(S.ts) AS st, LAST(U.v) AS uv"
        " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (S U) WITHIN INTERVAL '10' MINUTE"
        " DEFINE U AS U.v > PREV(U.v)"
    )
    spec = cep.parse_match_recognize(clause)
    rng = random.Random(4242)
    for trial in range(6):
        n = rng.randint(30, 70)
        base = pd.Timestamp("2024-03-01")
        ts, cur = [], base
        for _ in range(n):
            # gaps straddle the 10-minute bound in both directions
            cur = cur + pd.Timedelta(minutes=rng.choice([1, 4, 9, 12]))
            ts.append(cur)
        rows = [
            {"k": 1, "ts": t, "v": float(rng.randint(0, 99))}
            for t in ts
        ]
        want = sorted(
            tuple(sorted(d.items()))
            for d in cep._match_partition(rows, spec)
        )
        assert want, "fixture degenerated: no batch matches"
        fold = cep._stream_fold(spec)
        cuts = sorted(rng.sample(range(1, n), rng.randint(1, 4)))
        state, got = None, []
        prev = 0
        for c in cuts + [n]:
            # row dicts boxed as the watermark buffer boxes them
            state, out = fold(
                state, rows_of_frame(pd.DataFrame(rows[prev:c]))
            )
            prev = c
            got.extend(out or [])
        _, out = fold(state, [], True)
        got.extend(out or [])
        got_s = sorted(tuple(sorted(d.items())) for d in got)
        assert got_s == want, f"trial {trial}: {len(got_s)} vs {len(want)}"
