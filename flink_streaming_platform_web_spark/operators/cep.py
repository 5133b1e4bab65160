"""MATCH_RECOGNIZE — Flink SQL's CEP surface (docs:
queries/match_recognize), as a Spark-first operator.

Spark has no MATCH_RECOGNIZE; the semantics are per-partition
sequential pattern matching, which maps exactly onto
``groupBy(partition).applyInPandas`` with an Arrow-batched greedy
matcher per key. The supported surface (round 6 completed the Flink
1.13 clause set):

    [PARTITION BY k1[, k2 ...]]    -- optional (round 10): a missing
                                   -- clause is Flink's GLOBAL
                                   -- pattern, run through a constant
                                   -- grouping key — one group,
                                   -- matching Flink's parallelism-1
                                   -- semantics for that shape
    ORDER BY c1[, c2 [DESC] ...]   -- first column ascending (the
                                   -- event-time attribute, Flink's
                                   -- constraint); secondary columns
                                   -- may be DESC (tie ordering
                                   -- within a timestamp)
    MEASURES  <expr> AS name, ...  -- FIRST/LAST(V.col), COUNT(V.*),
                                   -- COUNT(*), SUM/MIN/MAX/AVG(V.col),
                                   -- CLASSIFIER()
    ONE ROW PER MATCH | ALL ROWS PER MATCH   -- all-rows = RUNNING;
                                   -- measures accept an explicit
                                   -- RUNNING/FINAL prefix (§RUNNING
                                   -- and FINAL): FINAL sees the
                                   -- complete match in all-rows
                                   -- mode, no-op in one-row mode
    AFTER MATCH SKIP PAST LAST ROW | SKIP TO NEXT ROW
                 | SKIP TO FIRST <var> | SKIP TO LAST <var>
    PATTERN (A (B|C)+ D* E? F{2,5})
        -- concatenation, flat alternation groups (leftmost
        -- preferred), greedy + * ? and bounds {n} {n,} {n,m},
        -- each optionally reluctant with a trailing ?
    PATTERN (A (B C)+ (A B | C) PERMUTE(A, B, C))
        -- round 8: NESTED groups (a quantified group repeats its
        -- body as a unit), alternation over sequences (leftmost
        -- branch preferred), and PERMUTE(...) — semantically the
        -- alternation of its permutations in lexicographic order
        -- (original order preferred — Flink docs
        -- queries/match_recognize §PERMUTE), walked natively as a
        -- used-set DFS so the pattern never materializes k!
        -- branches; width capped at 10 as a runtime-safety bound
        -- (the search is factorial when defines don't
        -- discriminate), wider raises loudly
    DEFINE  V AS <boolean over V.col / PREV(V.col[, n]) /
                  FIRST(X.col) / LAST(X.col) / literals,
                  AND OR NOT and comparisons/arithmetic>

Still out (loud ValueError): DESC on the FIRST ordering column
(Flink requires an ascending time attribute there —
docs queries/match_recognize §Order of Events), PERMUTE wider
than 10.

Matching is the standard greedy-with-backtracking NFA walk (matches
searched from each row in ORDER BY order; quantifiers greedy unless
reluctant; an undefined variable is always-true — all per the SQL/RPR
standard Flink implements). ``AFTER MATCH SKIP PAST LAST ROW``
resumes after the consumed rows; ``SKIP TO NEXT ROW`` at start+1;
``SKIP TO FIRST/LAST <var>`` at the variable's first/last matched
row (raising the SQL/RPR error when that would not advance).

Scale shape: one shuffle on the PARTITION BY key; each key's rows
sort and match inside its executor (Flink's CepOperator keys state
identically). The matcher is per-key sequential BY DEFINITION of the
semantics — parallelism comes from the key space, the same contract
as Flink. Skewed giant keys are the hazard; the mitigation (as in
Flink) is a time-bounded WITHIN or pre-splitting, not a different
plan.

DEFINE/MEASURES expressions are translated to Python and evaluated
per candidate row against the match context — no Spark expression
round-trip inside the match loop (a per-row spark.sql would be a
driver loop; this stays in the executor's pandas batch).
"""

from __future__ import annotations

import ast
import functools
import re

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

__all__ = ["MatchSpec", "parse_match_recognize", "match_recognize"]


@dataclass
class MatchSpec:
    partition_by: list[str]
    order_by: list[str]
    measures: list[tuple[str, str]]  # (python expr, output name)
    #: pattern elements: (alternatives, quant). A plain variable is a
    #: 1-tuple of alternatives; `(A|B)` carries several (ordered
    #: choice, leftmost preferred — SQL/RPR). quant ∈
    #: {'1','?','+','*','??','+?','*?'} (two-char = reluctant).
    pattern: list[tuple[tuple[str, ...], str]]
    define: dict[str, str]  # var -> python expr
    #: per-ORDER-BY-column ascending flags; empty = all ascending.
    #: The first column is always ascending (the event-time
    #: attribute — Flink's constraint); secondary columns may be
    #: False (DESC tie ordering within a timestamp).
    order_asc: list[bool] = field(default_factory=list)
    #: measure names marked FINAL — in ALL ROWS PER MATCH they
    #: evaluate over the COMPLETE match instead of rows-so-far
    #: (SQL/RPR RUNNING/FINAL; RUNNING is the all-rows default)
    final_measures: set[str] = field(default_factory=set)
    raw_measures: list[tuple[str, str]] = field(default_factory=list)
    # PATTERN (...) WITHIN INTERVAL 'n' unit — max seconds between a
    # match's first and last row (Flink's state-bounding time window);
    # None = unbounded
    within_seconds: float | None = None
    #: ALL ROWS PER MATCH — one output row per matched input row,
    #: measures with RUNNING semantics (the SQL/RPR default Flink
    #: implements); False = ONE ROW PER MATCH
    all_rows: bool = False
    #: AFTER MATCH SKIP mode: 'past_last' | 'to_next' | 'to_first' |
    #: 'to_last'; the latter two resume at skip_var's first/last
    #: matched row (error if that would not advance — SQL/RPR)
    skip_mode: str = "past_last"
    skip_var: str | None = None
    #: DEFINE bodies as the user's raw SQL text (pre-_xlate) — the
    #: fixed-length JVM tier re-emits them as Spark SQL conditions
    raw_define: dict[str, str] = field(default_factory=dict)


_FUN = r"(FIRST|LAST|COUNT|SUM|MIN|MAX|AVG|PREV)"


def _xlate(expr: str) -> str:
    """SQL expression subset → python source evaluated against the
    matcher's context helpers (__prev/__first/__last/__agg/__cur/
    __classifier)."""
    s = expr
    # CLASSIFIER() — the matched variable name (Flink docs:
    # match_recognize §Measures); running under ALL ROWS PER MATCH
    s = re.sub(
        r"CLASSIFIER\s*\(\s*\)", "__classifier()", s,
        flags=re.IGNORECASE,
    )
    # MATCH_ROWTIME() — the event-time attribute (first ORDER BY
    # column) of the last row mapped so far (Flink docs:
    # match_recognize §Time attributes; RUNNING semantics under
    # ALL ROWS, the match's last row in ONE ROW mode)
    s = re.sub(
        r"MATCH_ROWTIME\s*\(\s*\)", "__match_rowtime()", s,
        flags=re.IGNORECASE,
    )
    # PREV(V.col) / PREV(V.col, n) — relative to the CURRENT row
    s = re.sub(
        r"PREV\s*\(\s*(\w+)\.(\w+)\s*(?:,\s*(\d+))?\s*\)",
        lambda m: f"__prev('{m.group(2)}', {m.group(3) or 1})",
        s,
        flags=re.IGNORECASE,
    )
    # FIRST/LAST(V.col) over the rows var V matched so far
    s = re.sub(
        r"(FIRST|LAST)\s*\(\s*(\w+)\.(\w+)\s*\)",
        lambda m: (
            f"__{m.group(1).lower()}('{m.group(2)}', '{m.group(3)}')"
        ),
        s,
        flags=re.IGNORECASE,
    )
    # COUNT(V.*) / COUNT(*) / SUM|MIN|MAX|AVG(V.col)
    s = re.sub(
        r"COUNT\s*\(\s*(\w+)\.\*\s*\)",
        lambda m: f"__agg('count', '{m.group(1)}', None)",
        s,
        flags=re.IGNORECASE,
    )
    s = re.sub(
        r"COUNT\s*\(\s*\*\s*\)",
        "__agg('count', None, None)",
        s,
        flags=re.IGNORECASE,
    )
    s = re.sub(
        r"(SUM|MIN|MAX|AVG)\s*\(\s*(\w+)\.(\w+)\s*\)",
        lambda m: (
            f"__agg('{m.group(1).lower()}', '{m.group(2)}',"
            f" '{m.group(3)}')"
        ),
        s,
        flags=re.IGNORECASE,
    )
    # bare V.col — the current row inside DEFINE, the LAST row of V
    # in MEASURES (handled by caller passing the right __cur).
    # Identifiers only: \w.\w would also rewrite float literals
    # (1.5 → __cur('1','5'))
    s = re.sub(
        r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\b", r"__cur('\1', '\2')", s
    )
    # SQL operators → python
    s = re.sub(r"<>", "!=", s)
    s = re.sub(r"(?<![<>!=])=(?!=)", "==", s)
    s = re.sub(r"\bAND\b", "and", s, flags=re.IGNORECASE)
    s = re.sub(r"\bOR\b", "or", s, flags=re.IGNORECASE)
    s = re.sub(r"\bNOT\b", "not", s, flags=re.IGNORECASE)
    s = re.sub(r"\bNULL\b", "None", s, flags=re.IGNORECASE)
    return s


def parse_match_recognize(clause: str) -> MatchSpec:
    """Parse the MATCH_RECOGNIZE(...) clause body (the text between
    the outer parens). Raises ValueError on anything outside the
    supported subset — loud, never a silent wrong answer."""

    def grab(name: str, stop: str) -> str:
        m = re.search(
            rf"{name}\s+(.*?)\s*(?={stop})",
            clause,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"MATCH_RECOGNIZE: missing {name}")
        return m.group(1).strip()

    # PARTITION BY is OPTIONAL in Flink 1.13 (docs:
    # queries/match_recognize — a global pattern over the whole
    # input, parallelism 1 in Flink's own runtime). Missing clause →
    # empty keys; match_recognize routes that through a constant
    # grouping key (one group = Flink's single-task semantics).
    pm_part = re.search(
        r"PARTITION\s+BY\s+(.*?)\s*(?=ORDER\s+BY)",
        clause,
        re.IGNORECASE | re.DOTALL,
    )
    part = (
        [c.strip().strip("`") for c in pm_part.group(1).split(",")]
        if pm_part
        else []
    )
    order_txt = grab("ORDER\\s+BY", "MEASURES")
    order, order_asc = [], []
    for c in order_txt.split(","):
        # strip the trailing ASC/DESC keyword FIRST, then backticks —
        # the other way round leaves a trailing backtick on a quoted
        # column with an explicit direction (`col` DESC → "col`")
        c = c.strip()
        if re.search(r"\sDESC$", c, re.IGNORECASE):
            if not order:
                # Flink: the first ordering field must be an
                # ascending time attribute (docs
                # queries/match_recognize §Order of Events)
                raise ValueError(
                    "MATCH_RECOGNIZE: the first ORDER BY column must"
                    " be ascending (event-time attribute)"
                )
            order_asc.append(False)
            c = re.sub(r"\s+DESC$", "", c, flags=re.IGNORECASE)
        else:
            order_asc.append(True)
            c = re.sub(r"\s+ASC$", "", c, flags=re.IGNORECASE)
        order.append(c.strip().strip("`"))
    all_rows = bool(
        re.search(r"ALL\s+ROWS\s+PER\s+MATCH", clause, re.IGNORECASE)
    )
    measures_txt = grab(
        "MEASURES",
        r"(?:(?:ONE|ALL)\s+ROWS?\s+PER\s+MATCH|AFTER\s+MATCH|PATTERN)",
    )
    measures, raw = [], []
    final_measures: set[str] = set()
    for item in re.split(r",(?![^()]*\))", measures_txt):
        m = re.match(
            r"(.+?)\s+AS\s+`?(\w+)`?\s*$", item.strip(),
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"MATCH_RECOGNIZE: bad measure {item!r}")
        expr, name = m.group(1).strip(), m.group(2)
        # SQL/RPR RUNNING/FINAL semantics keyword (Flink docs:
        # queries/match_recognize §RUNNING and FINAL): meaningful in
        # ALL ROWS PER MATCH, where RUNNING (the default) sees the
        # rows matched SO FAR and FINAL the complete match; in ONE
        # ROW PER MATCH every measure evaluates at match completion,
        # so both keywords are accepted no-ops there.
        kw = re.match(r"(RUNNING|FINAL)\s+(.+)$", expr,
                      re.IGNORECASE | re.DOTALL)
        if kw:
            if kw.group(1).upper() == "FINAL":
                final_measures.add(name)
            expr = kw.group(2).strip()
        measures.append((_xlate(expr), name))
        raw.append((expr, name))
    skip_mode, skip_var = "past_last", None
    am = re.search(
        r"AFTER\s+MATCH\s+SKIP\s+(?:"
        r"(PAST\s+LAST\s+ROW)|(TO\s+NEXT\s+ROW)"
        r"|TO\s+(FIRST|LAST)\s+`?(\w+)`?)",
        clause,
        re.IGNORECASE,
    )
    if am:
        if am.group(2):
            skip_mode = "to_next"
        elif am.group(3):
            skip_mode = f"to_{am.group(3).lower()}"
            skip_var = am.group(4)
    elif re.search(r"AFTER\s+MATCH", clause, re.IGNORECASE):
        raise ValueError(
            "MATCH_RECOGNIZE: unsupported AFTER MATCH strategy"
            " (supported: SKIP PAST LAST ROW, SKIP TO NEXT ROW,"
            " SKIP TO FIRST/LAST <var>)"
        )
    # balanced-paren extraction: alternation groups nest parens inside
    # PATTERN ( ... ), so a non-greedy regex would stop at the first ')'
    pm = re.search(r"PATTERN\s*\(", clause, re.IGNORECASE)
    if not pm:
        raise ValueError("MATCH_RECOGNIZE: missing PATTERN")
    depth, i = 1, pm.end()
    while i < len(clause) and depth:
        if clause[i] == "(":
            depth += 1
        elif clause[i] == ")":
            depth -= 1
        i += 1
    if depth:
        raise ValueError("MATCH_RECOGNIZE: unbalanced PATTERN parens")
    pat_body = clause[pm.end(): i - 1].strip()
    within = None
    wm = re.search(
        r"WITHIN\s+INTERVAL\s+'(\d+)'\s+(\w+)", clause, re.IGNORECASE
    )
    if wm:
        unit = {
            "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
            "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
        }.get(wm.group(2).lower())
        if unit is None:
            raise ValueError(
                f"MATCH_RECOGNIZE: unsupported WITHIN unit"
                f" {wm.group(2)!r}"
            )
        within = int(wm.group(1)) * unit
    pattern = _parse_pattern(pat_body)
    define_txt = re.search(
        r"DEFINE\s+(.*)$", clause, re.IGNORECASE | re.DOTALL
    )
    define = {}
    raw_define: dict[str, str] = {}
    if define_txt:
        for item in re.split(r",(?![^()]*\))", define_txt.group(1)):
            m = re.match(
                r"\s*(\w+)\s+AS\s+(.+?)\s*$", item,
                re.IGNORECASE | re.DOTALL,
            )
            if not m:
                raise ValueError(
                    f"MATCH_RECOGNIZE: bad DEFINE {item!r}"
                )
            define[m.group(1)] = _xlate(m.group(2))
            raw_define[m.group(1)] = m.group(2).strip()
    pat_vars = _pattern_vars(pattern)
    if skip_var is not None and skip_var not in pat_vars:
        raise ValueError(
            f"MATCH_RECOGNIZE: AFTER MATCH SKIP TO {skip_var!r} — no"
            " such pattern variable"
        )
    return MatchSpec(
        partition_by=part,
        order_by=order,
        order_asc=order_asc,
        final_measures=final_measures,
        measures=measures,
        pattern=pattern,
        define=define,
        raw_measures=raw,
        within_seconds=within,
        all_rows=all_rows,
        skip_mode=skip_mode,
        skip_var=skip_var,
        raw_define=raw_define,
    )


_PAT_TOKEN = re.compile(
    r"\s*(?:\(\s*(\w+(?:\s*\|\s*\w+)*)\s*\)|(\w+))"
    r"(\{\s*\d+\s*(?:,\s*\d*\s*)?\}\??|\+\?|\*\?|\?\?|[+*?])?"
)


def _pattern_vars(pattern) -> set[str]:
    """Every pattern variable named anywhere in a flat list or AST."""
    if not isinstance(pattern, PatternAST):
        return {v for alts, _ in pattern for v in alts}
    out: set[str] = set()

    def visit(nodes):
        for kind, payload, _ in nodes:
            if kind == "atom":
                out.add(payload)
            elif kind == "perm":
                # payload: list of elems, each elem a branch list
                for elem in payload:
                    for branch in elem:
                        visit(branch)
            else:
                for branch in payload:
                    visit(branch)

    visit(pattern.nodes)
    return out


def _norm_quant(quant: str) -> str:
    """Normalize a raw quantifier token to the internal form:
    `1 ? + * ??` etc. stay as-is; bounded `{n} {n,} {n,m}` (optionally
    reluctant `{...}?`) normalize to `{lo,hi}` / `{lo,hi}?` with hi
    empty meaning unbounded."""
    if not quant.startswith("{"):
        return quant
    reluct = quant.endswith("}?")
    body = quant.strip("?").strip("{}").replace(" ", "")
    if "," in body:
        lo_s, hi_s = body.split(",", 1)
        lo, hi = int(lo_s), (int(hi_s) if hi_s else None)
    else:
        lo = hi = int(body)
    if hi is not None and hi < lo:
        raise ValueError(
            f"MATCH_RECOGNIZE: bad quantifier bound {quant!r}"
        )
    return f"{{{lo},{'' if hi is None else hi}}}" + (
        "?" if reluct else ""
    )


class PatternAST:
    """Parsed NESTED pattern: ``nodes`` is a sequence of
    ``('atom', var, quant)`` / ``('alt', branches, quant)`` /
    ``('perm', elems, quant)`` tuples where each branch is itself a
    node sequence and each PERMUTE elem is a branch list (an alt).
    Only built when the flat tokenizer cannot express the pattern
    (nested groups, alternation over sequences, PERMUTE); flat
    patterns keep the cheap list form and the iterative fast-path
    matcher."""

    __slots__ = ("nodes",)

    def __init__(self, nodes: list[tuple]) -> None:
        self.nodes = nodes


_AST_QUANT = re.compile(
    r"\s*(\{\s*\d+\s*(?:,\s*\d*\s*)?\}\??|\+\?|\*\?|\?\?|[+*?])"
)
_AST_WORD = re.compile(r"\s*(\w+)")

# PERMUTE(a,b,...) is semantically a len!-branch alternation; the
# walker enumerates the permutations LAZILY (used-set DFS) so the
# pattern stays O(len) in memory, but with non-discriminating
# defines the SEARCH is still factorial — cap the width as a
# runtime-safety bound ON THE NFA ROUTE only (Flink's CEP compiles
# the eager expansion and degrades strictly earlier on wide
# PERMUTE). Band-disjoint PERMUTE compiles to tier P at any width,
# so the cap is checked where the factorial engine is actually
# chosen (_reject_wide_permute), not at parse time.
_PERMUTE_MAX = 10


def _max_permute_width(pattern) -> int:
    """Largest PERMUTE element count anywhere in the pattern (0 when
    none / flat pattern)."""
    if not isinstance(pattern, PatternAST):
        return 0

    def node_w(node) -> int:
        kind, body, _q = node
        if kind == "atom":
            return 0
        if kind == "perm":
            # body: list of ELEMENTS, each element a branch list
            return max(
                [len(body)]
                + [node_w(n) for el in body for br in el for n in br]
            )
        # alt: body is a list of branches (node lists)
        return max(
            [0] + [node_w(n) for br in body for n in br]
        )

    return max([0] + [node_w(n) for n in pattern.nodes])


def _reject_wide_permute(spec: "MatchSpec") -> None:
    """Loud factorial-safety bound for the NFA route: raise when the
    pattern holds a PERMUTE wider than _PERMUTE_MAX. Callers invoke
    this exactly when the scalar walker is about to be chosen — a
    tier-P-compiled wide PERMUTE never reaches it."""
    w = _max_permute_width(spec.pattern)
    if w > _PERMUTE_MAX:
        raise ValueError(
            f"MATCH_RECOGNIZE: PERMUTE of {w} elements searches"
            f" {w}! orderings on the NFA engine; the supported NFA"
            f" width is {_PERMUTE_MAX}. Width MAY be unlimited via"
            " the window-SQL tier when the query fits its whole"
            " subset: every PERMUTE variable a pairwise-disjoint"
            " numeric band on one shared column, AFTER MATCH SKIP TO"
            " NEXT ROW, ONE ROW PER MATCH, a supported WITHIN dtype,"
            " and only tier-expressible measures (FIRST/LAST/bare"
            " column, CLASSIFIER, MATCH_ROWTIME, COUNT,"
            " SUM/MIN/MAX/AVG of one variable's column)."
        )


def _parse_pattern_ast(text: str) -> PatternAST:
    """Recursive-descent parse of the full Flink 1.13 pattern grammar:

        pattern := alt
        alt     := seq ('|' seq)*
        seq     := factor+
        factor  := (var | '(' alt ')' | PERMUTE '(' alt (',' alt)* ')')
                   quant?

    PERMUTE parses to a native ('perm', elems, quant) node; the
    walker enumerates its element permutations lazily in
    lexicographic order, original order first (Flink docs
    queries/match_recognize §PERMUTE — semantically identical to
    the eager alternation expansion, without materializing k!
    branches)."""
    pos = 0

    def error(what: str) -> ValueError:
        return ValueError(
            f"MATCH_RECOGNIZE: {what} at {text[pos:][:40]!r}"
        )

    def peek() -> str:
        nonlocal pos
        while pos < len(text) and text[pos].isspace():
            pos += 1
        return text[pos] if pos < len(text) else ""

    def quant_of() -> str:
        nonlocal pos
        m = _AST_QUANT.match(text, pos)
        if m:
            pos = m.end()
            return _norm_quant(m.group(1))
        return "1"

    def parse_alt() -> list[list[tuple]]:
        nonlocal pos
        branches = [parse_seq()]
        while peek() == "|":
            pos += 1
            branches.append(parse_seq())
        return branches

    def parse_seq() -> list[tuple]:
        nodes: list[tuple] = []
        while True:
            node = parse_factor()
            if node is None:
                break
            nodes.append(node)
        if not nodes:
            raise error("empty pattern sequence")
        return nodes

    def parse_factor() -> tuple | None:
        nonlocal pos
        ch = peek()
        if ch in ("", "|", ")", ","):
            return None
        if ch == "(":
            pos += 1
            branches = parse_alt()
            if peek() != ")":
                raise error("expected ')'")
            pos += 1
            return ("alt", branches, quant_of())
        m = _AST_WORD.match(text, pos)
        if not m:
            raise error("unsupported pattern")
        word = m.group(1)
        pos = m.end()
        if word.upper() == "PERMUTE" and peek() == "(":
            pos += 1
            elems = [parse_alt()]
            while peek() == ",":
                pos += 1
                elems.append(parse_alt())
            if peek() != ")":
                raise error("expected ')' closing PERMUTE")
            pos += 1
            # width is NOT capped here (round 11): a PERMUTE of
            # pairwise-disjoint bands compiles to tier P at any width
            # — the factorial-safety cap moved to the NFA route
            # (_reject_wide_permute), the only engine whose search is
            # factorial
            return ("perm", elems, quant_of())
        return ("atom", word, quant_of())

    branches = parse_alt()
    if peek() != "":
        raise error("unsupported pattern")
    if len(branches) == 1:
        return PatternAST(branches[0])
    return PatternAST([("alt", branches, "1")])


def _parse_pattern(
    text: str,
) -> "list[tuple[tuple[str, ...], str]] | PatternAST":
    """PATTERN body → the flat [(alternatives, quant)] list when the
    pattern is a concatenation of plain variables and flat
    alternation groups ``(A|B|C)`` (the common case — keeps the
    iterative fast-path matcher), else a :class:`PatternAST` for
    nested groups / sequence alternation / PERMUTE. Quantifiers:
    greedy (`+ * ?`, `{n}`, `{n,}`, `{n,m}`) or reluctant
    (`+? *? ??`, `{...}?`)."""
    out: list[tuple[tuple[str, ...], str]] = []
    i = 0
    flat_ok = True
    while i < len(text):
        if text[i].isspace():
            i += 1
            continue
        m = _PAT_TOKEN.match(text, i)
        if not m or m.end() == i:
            flat_ok = False
            break
        if m.group(1) is not None:
            alts = tuple(
                v.strip() for v in m.group(1).split("|")
            )
        else:
            alts = (m.group(2),)
            if alts[0].upper() == "PERMUTE":
                flat_ok = False  # PERMUTE( … — keyword, not a var
                break
        out.append((alts, _norm_quant(m.group(3) or "1")))
        i = m.end()
    if flat_ok:
        if not out:
            raise ValueError("MATCH_RECOGNIZE: empty PATTERN")
        return out
    return _parse_pattern_ast(text)


def _quant_bounds(quant: str) -> tuple[int, int | None, bool]:
    """quant → (lo, hi, reluctant). hi None = unbounded."""
    if quant.startswith("{"):
        reluct = quant.endswith("}?")
        lo_s, hi_s = quant.strip("?").strip("{}").split(",")
        return int(lo_s), (int(hi_s) if hi_s else None), reluct
    lo = 1 if quant[0] in ("1", "+") else 0
    hi = 1 if quant[0] in ("1", "?") else None
    return lo, hi, len(quant) == 2


def _match_ctx(
    rows: list[dict],
    start_idx: int,
    assigned: list[str],
    cur_idx: int | None = None,
    cur_var: str | None = None,
    ts_col: str | None = None,
) -> dict:
    """Evaluation context shared by DEFINE (cur_idx/cur_var set: the
    candidate row under test) and MEASURES (cur unset: bare V.col
    means LAST(V.col), PREV is relative to the match's last row)."""

    def _var_rows(var):
        return [
            rows[start_idx + i]
            for i, v in enumerate(assigned)
            if var is None or v == var
        ]

    def __first(var, col):
        r = _var_rows(var)
        return r[0][col] if r else None

    def __last(var, col):
        r = _var_rows(var)
        return r[-1][col] if r else None

    def __agg(fn, var, col):
        r = _var_rows(var)
        if fn == "count":
            return len(r)
        # SQL aggregates skip NULLs, which reach the matcher as None
        # or, in numeric and datetime columns, as NaN/NaT
        vals = [v for x in r if (v := x[col]) is not None and v == v]
        if not vals:
            return None
        if fn == "sum":
            return sum(vals)
        if fn == "min":
            return min(vals)
        if fn == "max":
            return max(vals)
        return sum(vals) / len(vals)

    anchor = (
        cur_idx if cur_idx is not None else start_idx + len(assigned) - 1
    )

    def __prev(col, k=1):
        j = anchor - k
        return rows[j][col] if j >= 0 else None

    def __cur(var, col):
        if cur_var is not None and var == cur_var:
            return rows[cur_idx][col]
        return __last(var, col)

    def __classifier():
        if cur_var is not None:
            return cur_var
        return assigned[-1] if assigned else None

    def __match_rowtime():
        # the event-time attribute of the last row mapped so far
        if ts_col is None or not assigned:
            return None
        return rows[start_idx + len(assigned) - 1][ts_col]

    return {
        "__cur": __cur,
        "__prev": __prev,
        "__first": __first,
        "__last": __last,
        "__agg": __agg,
        "__classifier": __classifier,
        "__match_rowtime": __match_rowtime,
    }


# ---------------------------------------------------------------------------
# Row-local DEFINE vectorization.
#
# The matcher's hot loop is ok(var, assigned, idx): build a 6-closure
# match context + eval a compiled expression per CANDIDATE row — paid
# again every time backtracking or a new start index re-tests a row
# (~2-4 µs each; the measured round-8 dead end showed per-(var,row)
# memoization loses to dict overhead, so the win must come from
# evaluating WITHOUT a per-candidate context at all). A DEFINE is
# ROW-LOCAL when its truth depends only on the candidate row's
# position in the ordered partition: references to the defined
# variable's own columns (the current row) and PREV/physical offsets
# — per SQL/RPR (and Flink's MATCH_RECOGNIZE docs), PREV(X.col, n)
# navigates the INPUT ordering, not X's assignments, so
# ``UP.v > PREV(UP.v)`` is ``v[i] > v[i-1]`` regardless of the match
# state. Such defines compile to ONE elementwise pandas expression
# per partition — a boolean bitmap the matcher indexes in O(1).
# FIRST/LAST/aggregates/CLASSIFIER/other-variable references depend
# on the in-flight match and keep the scalar eval path; mixed
# expressions are not split (all-or-nothing per define).
#
# Exactness contract (held by tests/test_cep_vectorized.py's
# randomized differential): bitmaps are built only over non-object
# column dtypes, where elementwise NaN/NaT comparison semantics
# reproduce the scalar path bit-for-bit — numeric nulls arrive as
# NaN (compare False, == False, != True) exactly like the scalar
# evaluator's outcomes, and shift() introduces NaN/NaT at the head
# exactly where __prev returns None (TypeError → False scalar-side
# for orderings, True for !=). Object (string) columns can raise
# mid-Series on ordering comparisons, so they fall back. Any build
# error falls back to the scalar path — never a changed answer.

_VEC_CMP = (ast.Lt, ast.LtE, ast.Gt, ast.GtE, ast.Eq, ast.NotEq)
_VEC_BIN = (ast.Add, ast.Sub, ast.Mult)


class _VecReject(Exception):
    """Expression is match-context-dependent (or outside the
    elementwise-safe subset) — keep the scalar eval path."""


class _VecXform(ast.NodeTransformer):
    """Scalar-eval AST (__cur/__prev calls, python and/or/not) →
    elementwise AST (__col/__shift calls, &/|/~). The tree structure
    carries grouping, so no precedence repair is needed when boolean
    ops become bitwise."""

    def __init__(self, var: str):
        self.var = var
        self.cols: set[str] = set()
        # deepest PREV offset — head rows [0, max_shift) see None
        # scalar-side but NaN elementwise, whose ==/!= semantics
        # differ (None == None is True, NaN == NaN is False), so the
        # bitmap builder re-evaluates those rows on the scalar path
        self.max_shift = 0

    def visit_Call(self, node):
        fn = node.func.id if isinstance(node.func, ast.Name) else None
        if fn == "__cur":
            v, col = node.args[0].value, node.args[1].value
            if v != self.var:
                # bare OTHER.col in a define means LAST(OTHER.col) —
                # match-context-dependent
                raise _VecReject("other-variable reference")
            self.cols.add(col)
            return ast.Call(
                func=ast.Name("__col", ast.Load()),
                args=[node.args[1]], keywords=[],
            )
        if fn == "__prev":
            self.cols.add(node.args[0].value)
            k = node.args[1].value if len(node.args) > 1 else 1
            self.max_shift = max(self.max_shift, int(k))
            return ast.Call(
                func=ast.Name("__shift", ast.Load()),
                args=[self.visit(a) for a in node.args], keywords=[],
            )
        raise _VecReject(f"call {fn}")

    def visit_BoolOp(self, node):
        self.generic_visit(node)
        op = ast.BitAnd() if isinstance(node.op, ast.And) else ast.BitOr()
        expr = node.values[0]
        for v in node.values[1:]:
            expr = ast.BinOp(left=expr, op=op, right=v)
        return expr

    def visit_UnaryOp(self, node):
        self.generic_visit(node)
        if isinstance(node.op, ast.Not):
            return ast.UnaryOp(op=ast.Invert(), operand=node.operand)
        if isinstance(node.op, ast.USub):
            return node
        raise _VecReject("unary op")

    def visit_Compare(self, node):
        self.generic_visit(node)
        for op in node.ops:
            if not isinstance(op, _VEC_CMP):
                raise _VecReject("comparison op")
        if len(node.ops) == 1:
            return node
        # chained a < b < c: Series can't short-circuit — split into
        # the conjunction of adjacent pairs (same truth table)
        parts, left = [], node.left
        for op, comp in zip(node.ops, node.comparators):
            parts.append(
                ast.Compare(left=left, ops=[op], comparators=[comp])
            )
            left = comp
        expr = parts[0]
        for p in parts[1:]:
            expr = ast.BinOp(left=expr, op=ast.BitAnd(), right=p)
        return expr

    def visit_BinOp(self, node):
        self.generic_visit(node)
        if not isinstance(node.op, _VEC_BIN):
            # Div/Mod raise scalar-side on zero but not elementwise —
            # keep the scalar path so failure modes stay identical
            raise _VecReject("arithmetic op")
        return node

    def visit_Constant(self, node):
        if node.value is None:
            raise _VecReject("NULL constant")
        return node

    def generic_visit(self, node):
        allowed = (
            ast.Expression, ast.BoolOp, ast.UnaryOp, ast.BinOp,
            ast.Compare, ast.Call, ast.Constant, ast.Name, ast.Load,
            ast.And, ast.Or, ast.Not, ast.USub,
        ) + _VEC_CMP + _VEC_BIN
        if not isinstance(node, allowed):
            raise _VecReject(type(node).__name__)
        return super().generic_visit(node)


@functools.lru_cache(maxsize=1024)
def _compiled(src: str, tag: str):
    """Compiled-eval cache for DEFINE/MEASURE sources. The batch
    matcher amortizes compile() over a whole partition, but the
    streaming fold runs once per logical key per micro-batch — with
    the round-13 key-grouped front end that is ~keys × batches
    compile() calls of the SAME handful of sources (the profile
    showed compile as the fold's single largest line)."""
    return compile(src, tag, "eval")


@functools.lru_cache(maxsize=256)
def _vector_define(src: str, var: str):
    """Compile one xlated DEFINE source to its elementwise form:
    (code, referenced-columns) or None when the expression is
    match-context-dependent. Cached per process — the streaming fold
    recompiles per micro-batch per key otherwise."""
    try:
        tree = ast.parse(src, mode="eval")
        xf = _VecXform(var)
        tree = xf.visit(tree)
        ast.fix_missing_locations(tree)
        return (
            compile(tree, "<vecdefine>", "eval"),
            frozenset(xf.cols),
            xf.max_shift,
        )
    except (_VecReject, SyntaxError):
        return None


def _define_bitmaps(rows, spec: MatchSpec, frame=None) -> dict:
    """var → per-row boolean bitmap for every vectorizable DEFINE
    over ``rows`` (one ordered partition). ``frame`` is the
    positionally-aligned pandas frame when the caller already holds
    one (the batch route's sorted pdf); otherwise it is built here —
    but only for buffers big enough that the build cost is beaten by
    the saved per-candidate evals (streaming folds over small
    buffers keep the scalar path)."""
    if not rows or (frame is None and len(rows) < 64):
        return {}
    if frame is None:
        if not any(_vector_define(s, v) for v, s in spec.define.items()):
            return {}
        import pandas as pd

        frame = pd.DataFrame(rows)
    return {
        var: _patch_head(bm, max_shift, scode, rows, var)
        for var, (bm, max_shift, scode) in _chunk_bitmaps(
            frame, spec
        ).items()
    }


def _patch_head(bm, max_shift, scode, rows, var):
    """``bm`` with its first ``max_shift`` rows re-evaluated on the
    scalar path (a copy when any are). There a chunk-global shift()
    leaks the previous group's tail, and PREV past the partition head
    is None scalar-side but NaN elementwise, whose ==/!= semantics
    differ (None == None is True, NaN == NaN is False) — the replay
    keeps the bitmap bit-for-bit exact."""
    if not max_shift:
        return bm
    bm = bm.copy()
    for i in range(min(max_shift, len(rows))):
        try:
            bm[i] = bool(
                eval(  # noqa: S307 — same translated subset as ok()
                    scode, {"__builtins__": {}},
                    _match_ctx(rows, i, [], i, var),
                )
            )
        except TypeError:
            bm[i] = False
    return bm


class _ColRows:
    """Column-array-backed replacement for ``pdf.to_dict('records')``
    over a [start, stop) slice of a chunk frame: the matcher's hot
    loop (bitmap lookups, walk recursion) never touches row data, so
    materializing one dict per input row — the measured round-8
    dominant cost of the batch CEP family — is wasted work for every
    row that never lands in a match. ``rows[i]`` returns a lazy view;
    values come straight out of per-column numpy arrays (datetime64
    boxed to pd.Timestamp so measure/DEFINE scalar evals see exactly
    the types ``to_dict('records')`` produced)."""

    __slots__ = ("_arrays", "_names", "_box", "_base", "_n")

    def __init__(self, frame, start: int = 0, stop: "int | None" = None):
        import numpy as np

        self._names = list(frame.columns)
        self._arrays = {}
        self._box = {}
        for c in self._names:
            s = frame[c]
            arr = s.to_numpy()
            self._arrays[c] = arr
            if np.issubdtype(s.dtype, np.datetime64):
                import pandas as pd

                self._box[c] = pd.Timestamp
            elif arr.dtype != object:
                # numeric/bool → Python natives at access time: a raw
                # np.int64 in a measure eval can wrap silently where
                # to_dict('records')'s maybe_box_native produced
                # exact Python ints (ADVICE r13)
                self._box[c] = lambda v: v.item()
        self._base = start
        self._n = (stop if stop is not None else len(frame)) - start

    def slice(self, start: int, stop: int) -> "_ColRows":
        out = _ColRows.__new__(_ColRows)
        out._arrays = self._arrays
        out._names = self._names
        out._box = self._box
        out._base = self._base + start
        out._n = stop - start
        return out

    def value(self, col: str, i: int):
        v = self._arrays[col][self._base + i]
        box = self._box.get(col)
        return box(v) if box is not None else v

    def __len__(self) -> int:
        return self._n

    def __getitem__(self, i: int) -> "_RowView":
        return _RowView(self, i)


class _RowView:
    """Mapping-shaped lazy row: supports ``row[col]``, ``dict(row)``
    (via keys()) — the two accesses _match_ctx and the ALL ROWS output
    builder perform."""

    __slots__ = ("_cr", "_i")

    def __init__(self, cr: _ColRows, i: int):
        self._cr = cr
        self._i = i

    def __getitem__(self, col: str):
        return self._cr.value(col, self._i)

    def keys(self):
        return self._cr._names

    def __iter__(self):
        return iter(self._cr._names)

    def __len__(self):
        return len(self._cr._names)


def _within_vals(frame, col: str):
    """(values, valid, divisor) for O(1) WITHIN elapsed-time checks:
    datetime64 keeps int64 nanoseconds (subtract first, divide after —
    dividing epoch floats first loses the boundary comparison to
    cancellation) with NaT masked; numeric columns pass through. The
    elapsed computation reproduces pd.Timedelta.total_seconds()
    (ns difference / 1e9) bit-for-bit."""
    import numpy as np

    s = frame[col]
    if np.issubdtype(s.dtype, np.datetime64):
        return (
            s.astype("int64").to_numpy(),
            (~s.isna()).to_numpy(),
            1e9,
        )
    return s.to_numpy(), None, 1.0


def _run_matcher(
    rows,
    spec: MatchSpec,
    frame=None,
    bitmaps=None,
    within_vals=None,
    collector=None,
    attempt_cache: "dict | None" = None,
    scan_from: int = 0,
) -> tuple[list[tuple[int, int, dict, bool]], int | None]:
    """Sequential greedy-with-backtracking scan over one partition's
    ordered rows. Returns (matches, earliest_viable):

    - matches: (start, end, output_rows, ran_out) per match, in scan
      order (end exclusive; output_rows has one dict for ONE ROW PER
      MATCH, one per matched row for ALL ROWS PER MATCH). ran_out
      means the attempt touched the
      buffer end during the search — the match COULD still grow or
      change if more rows arrive (e.g. a greedy A+ hit the end, then
      backtracked into a shorter complete match); batch callers
      ignore it (EOF is final), the streaming wrapper must treat such
      a match as pending, not closed;
    - earliest_viable: the smallest NON-consumed start index whose
      attempt ran out of rows mid-pattern without matching — None if
      every failure was definitive.

    attempt_cache (streaming fold only): {start_idx: (assigned, False)}
    memo of DECIDED attempts — results whose search never probed the
    buffer end (ran_out=False), which are therefore final no matter
    how many rows are appended later (the NFA at position s reads only
    rows[s - max PREV offset ..] and its preference order was settled
    without ever consulting the boundary). The dict is MUTATED in
    place: decided attempts from this scan are added so the caller
    can carry them across micro-batches; ran_out attempts are never
    cached. Entries are keyed by position in ``rows`` — the caller
    rebases keys when it trims the buffer. Skip-strategy control flow
    is untouched: a cache hit returns exactly what the walk would.

    scan_from (streaming fold only): first position ATTEMPTED as a
    match start. Rows before it are PREV-lookback context carried by
    the fold so that ``PREV`` probed near a retained match start sees
    the same values it saw before the buffer was trimmed (they are
    never attempted — their matches were emitted in earlier
    batches)."""
    _reject_wide_permute(spec)  # this IS the factorial engine
    n = len(rows)
    matches: list[tuple[int, int, dict, bool]] = []
    earliest_viable: int | None = None
    start = scan_from
    pattern = spec.pattern
    # pre-compile every expression once per partition — eval of a
    # compiled code object is ~3× faster than re-parsing source text
    # per candidate row, and the matcher is the hot loop here
    define_code = {
        v: _compiled(e, "<define>") for v, e in spec.define.items()
    }
    measure_code = [
        (_compiled(e, "<measure>"), name)
        for e, name in spec.measures
    ]
    # row-local defines collapse to precomputed bitmaps — ok() then
    # skips the per-candidate context build + eval entirely. The
    # chunked batch route passes group-sliced, head-patched bitmaps
    # built once per Arrow chunk; everyone else builds per partition.
    if bitmaps is None:
        bitmaps = _define_bitmaps(rows, spec, frame)

    def try_match(start_idx: int):
        """(longest greedy assignment or None, ran_out_of_rows)."""
        best: list[str] | None = None
        ran_out = False

        def ok(var, assigned, idx):
            if spec.within_seconds is not None:
                # WITHIN bound: a row outside the time window from the
                # match's first row can never extend the match
                # (Flink's state-bounding semantics)
                if within_vals is not None:
                    vals, valid, div = within_vals
                    if valid is None or (
                        valid[start_idx] and valid[idx]
                    ):
                        # ints subtract exactly; /1e9 IS
                        # total_seconds(); NaT pairs fall through
                        # (nan > bound is False scalar-side too)
                        if (
                            vals[idx] - vals[start_idx]
                        ) / div > spec.within_seconds:
                            return False
                else:
                    a = rows[start_idx][spec.order_by[0]]
                    b = rows[idx][spec.order_by[0]]
                    d = b - a
                    try:
                        elapsed = d.total_seconds()
                    except AttributeError:
                        import numpy as _np

                        # np.datetime64 order values (the streaming
                        # fold's arrays path, round 13): float(d)
                        # would yield the RAW unit count (µs/ns), not
                        # seconds — unit-safe division matches
                        # total_seconds bit-for-bit (exact int /
                        # exact power of 10, correctly rounded)
                        if isinstance(d, _np.timedelta64):
                            elapsed = d / _np.timedelta64(1, "s")
                        else:
                            elapsed = float(d)
                    if elapsed > spec.within_seconds:
                        return False
            code = define_code.get(var)
            if code is None:
                return True  # undefined variable is always-true
            bm = bitmaps.get(var)
            if bm is not None:
                return bool(bm[idx])
            try:
                return bool(
                    eval(  # noqa: S307 — translated subset, no names
                        code, {"__builtins__": {}},
                        _match_ctx(rows, start_idx, assigned, idx, var),
                    )
                )
            except TypeError:  # NULL in a comparison → no match
                return False

        def walk_ast(nodes: list[tuple]):
            """Ordered-choice DFS over a PatternAST: greedy prefers
            MORE repetitions, reluctant FEWER, alternation prefers the
            LEFTMOST branch — first complete match in that preference
            order wins (identical contract to the flat walker; the
            continuation-passing shape is what lets a quantified
            NESTED group repeat its body as a unit)."""
            nonlocal best, ran_out

            def node_walk(node, idx, assigned, cont):
                kind, payload, quant = node
                lo, hi, reluctant = _quant_bounds(quant)

                def once(i2, a2, c2):
                    nonlocal ran_out
                    if kind == "atom":
                        if i2 >= n:
                            ran_out = True
                            return False
                        if ok(payload, a2, i2):
                            return c2(i2 + 1, a2 + [payload])
                        return False
                    if kind == "perm":
                        # All-simple-atom PERMUTE (the common case:
                        # PERMUTE(A, B, C)): every element consumes
                        # exactly one row with no internal choice, so
                        # each ordering's search tree is a single
                        # path and the used-set DFS (try UNUSED
                        # elements in original order at each step)
                        # finds the same first match as enumerating
                        # whole orderings lexicographically — while
                        # pruning shared prefixes, turning the k!
                        # scan at non-matching positions into a
                        # first-row define check.
                        atoms = [
                            el[0][0][1]
                            for el in payload
                            if len(el) == 1
                            and len(el[0]) == 1
                            and el[0][0][0] == "atom"
                            and el[0][0][2] == "1"
                        ]
                        if len(atoms) == len(payload):
                            k = len(atoms)
                            full = (1 << k) - 1

                            def pw(used, i3, a3):
                                nonlocal ran_out
                                if used == full:
                                    return c2(i3, a3)
                                if i3 >= n:
                                    ran_out = True
                                    return False
                                for j in range(k):
                                    if used & (1 << j):
                                        continue
                                    if ok(atoms[j], a3, i3) and pw(
                                        used | (1 << j),
                                        i3 + 1,
                                        a3 + [atoms[j]],
                                    ):
                                        return True
                                return False

                            return pw(0, i2, a2)
                        # general case (quantified / alternated
                        # elements — internal choice exists):
                        # orderings enumerate lexicographically
                        # (original order first) as the OUTERMOST
                        # choice — one ordering's element-internal
                        # backtracking is exhausted before the next
                        # ordering is tried, exactly the eager
                        # k!-branch alternation expansion's
                        # preference (Flink docs
                        # queries/match_recognize §PERMUTE) — but
                        # only one ordering's node list exists at a
                        # time, so the pattern stays O(k) in memory
                        from itertools import permutations

                        for perm in permutations(payload):
                            if seq_walk(
                                [("alt", list(el), "1") for el in perm],
                                0, i2, a2, c2,
                            ):
                                return True
                        return False
                    for branch in payload:  # leftmost preferred
                        if seq_walk(branch, 0, i2, a2, c2):
                            return True
                    return False

                def rep(i2, a2, count):
                    def more():
                        if hi is not None and count >= hi:
                            return False
                        # empty-repetition guard: a body that consumed
                        # nothing must not repeat (same cut Python's
                        # re makes) — close the quantifier instead
                        return once(
                            i2, a2,
                            lambda i3, a3: (
                                rep(i3, a3, count + 1)
                                if i3 > i2
                                else (count + 1 >= lo and cont(i3, a3))
                            ),
                        )

                    def move_on():
                        return count >= lo and cont(i2, a2)

                    if reluctant:
                        return move_on() or more()
                    return more() or move_on()

                return rep(idx, assigned, 0)

            def seq_walk(nodes2, ni, idx, assigned, cont):
                if ni == len(nodes2):
                    return cont(idx, assigned)
                return node_walk(
                    nodes2[ni], idx, assigned,
                    lambda i2, a2: seq_walk(
                        nodes2, ni + 1, i2, a2, cont
                    ),
                )

            def done(idx, assigned):
                nonlocal best
                best = list(assigned)
                return True

            try:
                seq_walk(nodes, 0, start_idx, [], done)
            except RecursionError:
                raise ValueError(
                    "MATCH_RECOGNIZE: a nested pattern matched a run"
                    " longer than the supported depth; bound the"
                    " pattern with WITHIN"
                ) from None

        def walk(pi: int, idx: int, assigned: list[str]):
            nonlocal best, ran_out
            if best is not None:
                return
            if pi == len(pattern):
                best = list(assigned)
                return
            alts, quant = pattern[pi]
            if len(alts) == 1 and quant in ("1", "?", "+", "*"):
                # fast path (the common single-variable greedy shape):
                # iterative consume, no per-row recursion
                var = alts[0]
                if quant in ("1", "?"):
                    if idx >= n:
                        ran_out = True  # more rows could complete this
                    elif ok(var, assigned, idx):
                        walk(pi + 1, idx + 1, assigned + [var])
                    if quant == "?" and best is None:
                        walk(pi + 1, idx, assigned)
                    return
                # + / * : greedy — consume as many as possible, then
                # backtrack toward the minimum
                taken = []
                while idx + len(taken) < n and ok(
                    var, assigned + taken, idx + len(taken)
                ):
                    taken.append(var)
                if idx + len(taken) >= n:
                    ran_out = True  # the greedy run hit the buffer end
                lo = 1 if quant == "+" else 0
                for k in range(len(taken), lo - 1, -1):
                    walk(pi + 1, idx + k, assigned + taken[:k])
                    if best is not None:
                        return  # greedy: first (longest-prefix) wins
                return
            # general ordered-choice DFS: alternation groups (leftmost
            # alternative preferred — SQL/RPR ordered choice),
            # reluctant quantifiers (prefer FEWER repetitions), and
            # {lo,hi} bounds. Depth is bounded by the repetition
            # count; a pathological run longer than Python's recursion
            # limit surfaces as a loud error (mitigation, as in
            # Flink: bound the match with WITHIN), never a silent
            # wrong answer.
            lo, hi, reluctant = _quant_bounds(quant)

            def rep(idx2: int, assigned2: list[str], count: int):
                nonlocal ran_out
                if best is not None:
                    return

                def more():
                    nonlocal ran_out
                    if hi is not None and count >= hi:
                        return
                    if idx2 >= n:
                        ran_out = True
                        return
                    for v in alts:
                        if ok(v, assigned2, idx2):
                            rep(idx2 + 1, assigned2 + [v], count + 1)
                            if best is not None:
                                return

                def move_on():
                    if count >= lo:
                        walk(pi + 1, idx2, assigned2)

                if reluctant:
                    move_on()
                    if best is None:
                        more()
                else:
                    more()
                    if best is None:
                        move_on()

            try:
                rep(idx, assigned, 0)
            except RecursionError:
                raise ValueError(
                    "MATCH_RECOGNIZE: a quantified alternation"
                    " matched a run longer than the supported depth;"
                    " bound the pattern with WITHIN"
                ) from None

        if isinstance(pattern, PatternAST):
            walk_ast(pattern.nodes)
        else:
            walk(0, start_idx, [])
        return best, ran_out

    while start < n:
        if attempt_cache is not None and start in attempt_cache:
            assigned, ran_out = attempt_cache[start]
        else:
            assigned, ran_out = try_match(start)
            if attempt_cache is not None and not ran_out:
                attempt_cache[start] = (assigned, ran_out)
        if assigned:
            end = start + len(assigned)
            if collector is not None:
                # columnar collection (the chunked batch route):
                # append frame row indices + per-measure value lists;
                # the caller assembles ONE DataFrame per chunk via
                # frame.iloc — no per-row dicts anywhere
                base, idx_acc, meas_acc = collector
                if spec.all_rows:
                    cf = (
                        _match_ctx(
                            rows, start, assigned,
                            ts_col=spec.order_by[0],
                        )
                        if spec.final_measures
                        else None
                    )
                    for off in range(len(assigned)):
                        c = _match_ctx(
                            rows, start, assigned[: off + 1],
                            ts_col=spec.order_by[0],
                        )
                        idx_acc.append(base + start + off)
                        for mi, (code, name) in enumerate(
                            measure_code
                        ):
                            meas_acc[mi].append(
                                eval(  # noqa: S307
                                    code, {"__builtins__": {}},
                                    cf
                                    if name in spec.final_measures
                                    else c,
                                )
                            )
                else:
                    c = _match_ctx(
                        rows, start, assigned,
                        ts_col=spec.order_by[0],
                    )
                    idx_acc.append(base + start)
                    for mi, (code, _name) in enumerate(measure_code):
                        meas_acc[mi].append(
                            eval(  # noqa: S307
                                code, {"__builtins__": {}}, c
                            )
                        )
                outs: list = []
            elif spec.all_rows:
                # one output row per matched row, measures with
                # RUNNING semantics (context sees the rows matched so
                # far — the SQL/RPR default Flink implements);
                # FINAL-marked measures see the complete match
                cf = (
                    _match_ctx(
                        rows, start, assigned,
                        ts_col=spec.order_by[0],
                    )
                    if spec.final_measures
                    else None
                )
                outs = []
                for off in range(len(assigned)):
                    c = _match_ctx(
                        rows, start, assigned[: off + 1],
                        ts_col=spec.order_by[0],
                    )
                    row_out = dict(rows[start + off])
                    for code, name in measure_code:
                        row_out[name] = eval(  # noqa: S307
                            code, {"__builtins__": {}},
                            cf
                            if name in spec.final_measures
                            else c,
                        )
                    outs.append(row_out)
            else:
                c = _match_ctx(
                    rows, start, assigned, ts_col=spec.order_by[0]
                )
                row_out = {
                    k: rows[start][k] for k in spec.partition_by
                }
                for code, name in measure_code:
                    row_out[name] = eval(  # noqa: S307
                        code, {"__builtins__": {}}, c
                    )
                outs = [row_out]
            matches.append((start, end, outs, ran_out))
            if spec.skip_mode == "past_last":
                start = end
            elif spec.skip_mode == "to_next":
                start += 1
            else:  # to_first / to_last <var>
                idxs = [
                    start + i
                    for i, v in enumerate(assigned)
                    if v == spec.skip_var
                ]
                if not idxs:
                    raise ValueError(
                        f"MATCH_RECOGNIZE: AFTER MATCH SKIP TO"
                        f" {spec.skip_var!r} — the variable matched"
                        " no row in this match"
                    )
                tgt = (
                    idxs[0]
                    if spec.skip_mode == "to_first"
                    else idxs[-1]
                )
                if tgt <= start:
                    raise ValueError(
                        f"MATCH_RECOGNIZE: AFTER MATCH SKIP TO"
                        f" {spec.skip_var!r} resumes at the match's"
                        " first row — infinite loop (SQL/RPR error)"
                    )
                start = tgt
        else:
            if ran_out and earliest_viable is None:
                earliest_viable = start
            start += 1
    return matches, earliest_viable

def _match_partition(
    rows: list[dict], spec: MatchSpec, frame=None
) -> list[dict]:
    """Batch semantics: EOF closes everything — emit every match."""
    return [
        out
        for _, _, outs, _ in _run_matcher(rows, spec, frame)[0]
        for out in outs
    ]

def _chunk_bitmaps(frame, spec: MatchSpec) -> dict:
    """Row-local DEFINE bitmaps over a WHOLE sorted chunk (many
    groups): var → (bitmap, max_shift, scalar_code). One elementwise
    pandas eval per chunk replaces one per group — the round-8 profile
    showed the per-group Series/eval overhead dwarfing the saved
    scalar evals on this corpus's ~70-row groups. The chunk-global
    shift() leaks the previous group's tail into each group's first
    ``max_shift`` rows; the caller patches exactly those rows with the
    scalar evaluator (:func:`_patch_head`)."""
    import numpy as np
    import pandas as pd

    vec = {
        v: r
        for v, src in spec.define.items()
        if (r := _vector_define(src, v)) is not None
    }
    if not vec or not len(frame):
        return {}
    series: dict = {}

    def __col(c):
        if c not in series:
            series[c] = pd.Series(frame[c].to_numpy())
        return series[c]

    def __shift(c, k=1):
        return __col(c).shift(k)

    n = len(frame)
    out = {}
    for var, (code, cols, max_shift) in vec.items():
        if any(
            c not in frame.columns or frame[c].dtype == object
            for c in cols
        ):
            continue
        try:
            r = eval(  # noqa: S307 — same translated subset as ok()
                code, {"__builtins__": {}},
                {"__col": __col, "__shift": __shift},
            )
            bm = (
                r.fillna(False).to_numpy(dtype=bool)
                if isinstance(r, pd.Series)
                else np.full(n, bool(r))
            )
            out[var] = (
                bm,
                max_shift,
                _compiled(spec.define[var], "<define>"),
            )
        except Exception:
            continue  # build failure → scalar path, same answers
    return out


def _group_starts(frame, keys: list[str]):
    """Start index of every PARTITION BY group in a (key, order)-sorted
    frame — null-safe (NaN/NaT/None keys group together, matching
    Spark's groupBy null semantics)."""
    import numpy as np

    n = len(frame)
    change = np.zeros(n, dtype=bool)
    if n:
        change[0] = True
    for k in keys:
        s = frame[k]
        prev = s.shift()
        eq = (s == prev) | (s.isna() & prev.isna())
        change |= ~eq.to_numpy(dtype=bool)
    if n:
        change[0] = True
    return np.flatnonzero(change)


def _match_chunk(frame, spec: MatchSpec, starts):
    """Run the matcher over every complete group in ``frame`` (group
    start offsets in ``starts``), sharing ONE chunk-level bitmap
    build and ONE column-array view across all of them. Returns the
    assembled output DataFrame (columns: base + measures) or None —
    row data flows ``frame.iloc[matched indices]``-style, never
    through per-row dicts."""
    n = len(frame)
    if not n:
        return None
    cols = _ColRows(frame)
    cbms = _chunk_bitmaps(frame, spec)
    wvals = (
        _within_vals(frame, spec.order_by[0])
        if spec.within_seconds is not None
        else None
    )
    idx_acc: list[int] = []
    meas_acc: list[list] = [[] for _ in spec.measures]
    bounds = list(starts) + [n]
    for gi in range(len(bounds) - 1):
        g0, g1 = int(bounds[gi]), int(bounds[gi + 1])
        rows = cols.slice(g0, g1)
        bms = {
            var: _patch_head(bm[g0:g1], max_shift, scode, rows, var)
            for var, (bm, max_shift, scode) in cbms.items()
        }
        wv = None
        if wvals is not None:
            vals, valid, div = wvals
            wv = (
                vals[g0:g1],
                valid[g0:g1] if valid is not None else None,
                div,
            )
        _run_matcher(
            rows,
            spec,
            bitmaps=bms,
            within_vals=wv,
            collector=(g0, idx_acc, meas_acc),
        )
    if not idx_acc:
        return None
    base = (
        frame if spec.all_rows else frame[list(spec.partition_by)]
    )
    out = base.iloc[idx_acc].reset_index(drop=True)
    for (_, name), vals in zip(spec.measures, meas_acc):
        out[name] = vals
    return out


#: PREV(V.col[, n]) physical-offset navigation — the one call shape
#: the JVM tiers compile (everything else context-dependent / outside
#: the verbatim subset)
_PREV_NAV = re.compile(
    r"PREV\s*\(\s*(\w+)\.(\w+)\s*(?:,\s*(\d+))?\s*\)", re.IGNORECASE
)

#: tokens outside the tiers' exactness-safe verbatim-SQL subset,
#: scanned AFTER PREV(...) calls are masked out:
#: - any remaining call → aggregates/navigation/functions are
#:   context-dependent (this also rejects `AND (`-style grouped
#:   boolean terms — conservative, they stay on the NFA path);
#: - / and % → SQL yields NULL on zero where the scalar evaluator
#:   raises (same cut _VecXform makes);
#: - <> / != / NOT / IS → SQL three-valued logic diverges from the
#:   scalar/bitmap evaluators on NULLs (None != x → True and
#:   ~False → True python-side, but NULL <> x → NULL → no-match
#:   SQL-side; ADVICE r9 finding 2). Without NOT, AND/OR over
#:   NULL-is-False atoms are monotone, so Kleene NULLs and scalar
#:   False agree at the top level;
#: - NULL literals, BETWEEN/LIKE/IN/CASE → outside the subset.
_TIER_REJECT = re.compile(
    r"\w+\s*\(|[/%]|<>|!=|\|\||"
    r"\b(NOT|IS|NULL|BETWEEN|LIKE|IN|CASE|EXISTS|DISTINCT)\b",
    re.IGNORECASE,
)

#: a bare `=` (not <=, >=, !=) — exactness-safe only on numeric /
#: datetime columns (see _tier_condition)
_TIER_EQ = re.compile(r"(?<![<>!=])=")

_DOTTED_REF = re.compile(r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\b")
_BARE_ID = re.compile(r"\b[A-Za-z_]\w*\b")

#: Spark type names whose NULLs surface as NaN/NaT (never None) in
#: the pandas matcher, so `=` agrees across all three evaluators
_EQ_SAFE_TYPES = frozenset((
    "long", "integer", "short", "byte", "double", "float",
    "timestamp", "timestamp_ntz", "date",
))


class _TierCond(str):
    """Compiled tier condition; ``pins_row`` is True when the
    condition is FALSE/NULL whenever the variable's own row does not
    exist (every column at its offset NULL) — an OR-free conjunction
    with at least one own-offset ``V.col`` comparison atom has this
    property (a SQL comparison against NULL is NULL, and AND over a
    NULL conjunct can never be TRUE). Tier assembly uses it to elide
    the ``LEAD(1, k-1) IS NOT NULL`` partition-boundary probe — one
    whole window expression per 5M-row pass (~8% of q64's sf5 leg,
    VERDICT r13 item 2's named shave)."""

    pins_row = False


def _tier_condition(src, var, off, cols, eq_safe, lead):
    """Compile one ROW-LOCAL raw DEFINE to a SQL boolean where the
    variable's own row sits at offset ``off`` from the anchor row
    (``lead(col, o)`` renders an offset reference; negative offsets
    render as LAG). Returns None when the define is outside the
    exactness-safe subset — the caller falls back to the NFA path.

    Exactness notes (vs the scalar/bitmap evaluators, pinned by the
    randomized tier differential in tests/test_cep_vectorized.py):

    - ordering comparisons on NULL: SQL NULL → no-match = scalar
      TypeError→False = bitmap NaN→False;
    - `=`: NaN == x / NaN == NaN are False scalar-side, NULL = x is
      no-match SQL-side — but None == None is True, which can only
      arise from object-dtype columns or __prev past the partition
      head compared against an object column, so `=` is admitted
      only when every referenced column's NULLs are NaN/NaT
      (numeric/datetime types);
    - PREV at the partition head: LAG → NULL → no-match, matching
      the scalar evaluator's None (TypeError→False under orderings);
    - bare (non-dotted) input-column identifiers would evaluate at
      the anchor row instead of the variable's own offset; the NFA
      path fails loudly on them (NameError), so they stay there
      (ADVICE r9 finding 4).
    """
    prevs: list[tuple[str, int]] = []

    def _cap(m):
        prevs.append((m.group(2), int(m.group(3) or 1)))
        return f" __prevref{len(prevs) - 1}x "

    masked = _PREV_NAV.sub(_cap, src)
    if _TIER_REJECT.search(masked):
        return None
    refs = _DOTTED_REF.findall(masked)
    if any(v != var or c not in cols for v, c in refs):
        return None  # other-variable reference → NFA path
    if any(c not in cols for c, _ in prevs):
        return None
    if _TIER_EQ.search(masked) and (
        any(c not in eq_safe for _, c in refs)
        or any(c not in eq_safe for c, _ in prevs)
    ):
        return None
    rest = _DOTTED_REF.sub(" ", masked)
    rest = re.sub(r"__prevref\d+x", " ", rest)
    if any(t in cols for t in _BARE_ID.findall(rest)):
        return None  # bare column ref — loud NFA NameError, not 0-offset
    cond = _DOTTED_REF.sub(lambda m: lead(m.group(2), off), masked)
    for i, (c, n) in enumerate(prevs):
        cond = cond.replace(f"__prevref{i}x", lead(c, off - n))
    out = _TierCond(f"({cond})")
    out.pins_row = bool(refs) and not re.search(
        r"\bOR\b", masked, re.IGNORECASE
    )
    return out


def _tier_window(df, spec):
    """(win, lead, cols, eq_safe, col_types) shared by every tier.
    ORDER BY renders NULLS LAST to mirror the pandas matcher's
    NaT/NaN-last placement (ADVICE r9 finding 5); negative lead
    offsets render as LAG (PREV reaching before the match start).

    ``lead`` MEMOIZES: each distinct (column, offset) navigation gets
    one generated alias and the call returns a reference to it; the
    tier materializes the definitions once via :func:`_lead_prelude`
    right before final assembly. Catalyst's ExtractWindowExpressions
    does NOT common-subexpression duplicate window expressions (q52's
    round-11 plan carried lead(ts) and lead(value) twice each), and
    tier P referenced each class column k times per measure — the
    memo makes every navigation ONE window column regardless of how
    many conds/measures cite it (round 12). ``lead(None, off)``
    renders the constant-1 partition-boundary probe."""
    cols = set(df.columns)
    eq_safe = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in _EQ_SAFE_TYPES
    }
    col_types = {
        f.name: f.dataType.simpleString() for f in df.schema.fields
    }
    asc = spec.order_asc or [True] * len(spec.order_by)
    order_sql = ", ".join(
        f"`{c}`" + (" NULLS LAST" if a else " DESC")
        for c, a in zip(spec.order_by, asc)
    )
    part_sql = ", ".join(f"`{c}`" for c in spec.partition_by)
    win = f"(PARTITION BY {part_sql} ORDER BY {order_sql})"
    memo: dict[tuple, str] = {}  # (col|None, off) -> alias
    exprs: dict[str, str] = {}  # alias -> defining window expr

    def lead(col: "str | None", off: int) -> str:
        if off == 0 and col is not None:
            return f"`{col}`"
        a = memo.get((col, off))
        if a is None:
            a = f"__mr_w{len(memo)}__"
            memo[(col, off)] = a
            tgt = "1" if col is None else f"`{col}`"
            exprs[a] = (
                f"LEAD({tgt}, {off}) OVER {win}"
                if off >= 0
                else f"LAG({tgt}, {-off}) OVER {win}"
            )
        return f"`{a}`"

    lead.exprs = exprs
    return win, part_sql, lead, cols, eq_safe, col_types


def _lead_prelude(df, lead, cols) -> "DataFrame | None":
    """Materialize the memoized navigations of :func:`_tier_window`'s
    ``lead`` as ONE projection (one Window operator — every alias
    shares the win spec); conds/measures built from the alias
    references evaluate as plain column reads above it. None on an
    (input column named ``__mr_wN__``) alias collision — the caller
    falls back to the NFA path."""
    exprs = lead.exprs
    if not exprs:
        return df
    if any(a in cols for a in exprs):
        return None
    return df.selectExpr(
        "*", *(f"{e} AS `{a}`" for a, e in exprs.items())
    )


def _tier_elements(pattern, raw_define, lead, cols, eq_safe):
    """Fixed-length eligibility: every pattern element consumes
    exactly one row — a single variable or a flat alternation of
    single variables (ordered choice; with row-local defines the
    rest of the pattern cannot depend on WHICH alternative matched,
    so first-true = the NFA's backtracking preference). Returns
    (elem_info, conds) or None."""
    elem_info: list[tuple] = []
    conds: list[str] = []
    for off, (alts, quant) in enumerate(pattern):
        if quant != "1":
            return None
        if len(alts) == 1:
            v = alts[0]
            src = raw_define.get(v)
            if src is None:
                elem_info.append(("single", v, None))
                continue
            cond = _tier_condition(src, v, off, cols, eq_safe, lead)
            if cond is None:
                return None
            elem_info.append(("single", v, cond))
            conds.append(cond)
        else:
            branches: list[tuple[str, str]] = []
            for a in alts:
                src = raw_define.get(a)
                if src is None:
                    # define-free alternative is always-true; the
                    # NFA's ordered preference makes later
                    # alternatives unreachable
                    branches.append((a, "TRUE"))
                    break
                c = _tier_condition(src, a, off, cols, eq_safe, lead)
                if c is None:
                    return None
                branches.append((a, c))
            cls = (
                "(CASE "
                + " ".join(f"WHEN {c} THEN '{a}'" for a, c in branches)
                + " END)"
            )
            elem_info.append(("alt", branches, cls))
            if branches[-1][1] != "TRUE":
                conds.append(
                    "(" + " OR ".join(c for _, c in branches) + ")"
                )
    return elem_info, conds


def _last_elem_pins_row(elem_info) -> bool:
    """True when the LAST pattern element's condition already
    null-rejects a missing row (see :class:`_TierCond`), so the
    ``LEAD(1, k-1) IS NOT NULL`` boundary probe is redundant: past
    the partition end every lead at offset k-1 is NULL, the
    comparison atom goes NULL, and the AND can never be TRUE. For an
    alternation element EVERY branch must pin (a define-free TRUE
    branch, or any branch that could hold without its own row,
    keeps the probe)."""
    last = elem_info[-1]
    if last[0] == "single":
        return getattr(last[2], "pins_row", False)
    _, branches, _cls = last
    return all(
        getattr(c, "pins_row", False) for _a, c in branches
    )


def _var_occurrences(elem_info):
    """var → [(offset, guard-SQL-or-None)] in pattern order; guard
    None means the variable unconditionally owns that offset."""
    occ: dict[str, list[tuple[int, "str | None"]]] = {}
    for off, e in enumerate(elem_info):
        if e[0] == "single":
            occ.setdefault(e[1], []).append((off, None))
        else:
            _, branches, cls = e
            for a, _c in branches:
                occ.setdefault(a, []).append((off, f"{cls} = '{a}'"))
    return occ


def _pref_case(pairs):
    """First-match-wins selection over (guard, value) pairs; a None
    guard is unconditional and terminates the chain (NULL when no
    guard fires — the scalar evaluator's None for an unmatched
    variable)."""
    if pairs and pairs[0][0] is None:
        return pairs[0][1]
    parts = []
    for g, val in pairs:
        if g is None:
            parts.append(f"ELSE {val}")
            break
        parts.append(f"WHEN {g} THEN {val}")
    return "(CASE " + " ".join(parts) + " END)"


#: integer types whose SUM widens to BIGINT, and the numeric types a
#: tier may SUM or AVG — Spark widens decimal sums and averages
#: differently from the NFA's Python arithmetic, so those decline
_INT_TYPES = ("int", "smallint", "tinyint")
_NUM_TYPES = _INT_TYPES + ("bigint", "double", "float")


@functools.lru_cache(maxsize=1024)
def _measure_form(raw: str):
    """One raw MEASURE in the tiers' grammar as ``(fn, var, col)``, fn
    upper-cased: FIRST/LAST/SUM/MIN/MAX/AVG(V.col); a bare ``V.col``
    as ``("LAST", V, col)``; COUNT(V.*) as ``("COUNT", V, None)``;
    COUNT(*) as ``("COUNT", None, None)``; CLASSIFIER() and
    MATCH_ROWTIME() as ``(name, None, None)``. None for anything else
    (arithmetic, PREV, literals) — only the NFA evaluates those.
    Cached like :func:`_compiled`: every tier parses the same few
    measures."""
    t = raw.strip()
    m = re.fullmatch(
        r"(FIRST|LAST|SUM|MIN|MAX|AVG)\s*\(\s*(\w+)\.(\w+)\s*\)",
        t, re.IGNORECASE,
    )
    if m:
        return m.group(1).upper(), m.group(2), m.group(3)
    m = re.fullmatch(r"(\w+)\.(\w+)", t)
    if m:
        return "LAST", m.group(1), m.group(2)
    m = re.fullmatch(
        r"COUNT\s*\(\s*(?:(\w+)\.)?\*\s*\)", t, re.IGNORECASE
    )
    if m:
        return "COUNT", m.group(1), None
    m = re.fullmatch(
        r"(CLASSIFIER|MATCH_ROWTIME)\s*\(\s*\)", t, re.IGNORECASE
    )
    if m:
        return m.group(1).upper(), None, None
    return None


def _tier_forms(spec, cols):
    """[(form, name)] for every MEASURE, or None when one falls outside
    :func:`_measure_form`'s grammar or reads a column the input lacks
    — the tier declines and the NFA evaluates it."""
    out = []
    for raw, name in spec.raw_measures:
        form = _measure_form(raw)
        if form is None or (form[2] is not None and form[2] not in cols):
            return None
        out.append((form, name))
    return out


def _agg_type(fn, ct):
    """The type the NFA route gives ``fn`` over a column of type ``ct``
    (:func:`infer_output_schema`): COUNT is bigint, AVG double, SUM
    widens the integer types to bigint, everything else keeps ``ct``."""
    if fn == "COUNT":
        return "bigint"
    if fn == "AVG":
        return "double"
    if fn == "SUM" and ct in _INT_TYPES:
        return "bigint"
    return ct


def _one_row_value(fn, val, ct):
    """FIRST/LAST/SUM/MIN/MAX/AVG over the ONE row a variable binds,
    whose value SQL is ``val`` (None: the variable bound no row — a
    typed NULL, the scalar evaluator's None), cast to
    :func:`_agg_type`'s type. None declines SUM/AVG over a non-numeric
    column (see ``_NUM_TYPES``)."""
    if fn in ("SUM", "AVG") and ct not in _NUM_TYPES:
        return None
    t = _agg_type(fn, ct)
    if val is None:
        return f"CAST(NULL AS {t})"
    return val if t == ct and fn != "AVG" else f"CAST({val} AS {t})"


def _start_row(df, spec, pattern, lead, cols, eq_safe, elide_probe=True):
    """Start-row predicate of a fixed-length ``pattern`` for the LEAD
    tiers (A, A-all, A′ per expansion, B): the elements' row-local
    conditions (:func:`_tier_elements`), the partition-boundary probe
    and the WITHIN bound. Returns (elem_info, conds), or None outside
    the tier subset.

    The probe ``LEAD(1, k-1) IS NOT NULL`` is a LEAD over a CONSTANT:
    it tells "past the partition end" from "ORDER BY value is NULL" —
    rows with NULL order keys sort last but still exist and must stay
    matchable (ADVICE r9 finding 3). ``elide_probe`` drops it when the
    last element's own condition null-rejects a missing row
    (:func:`_last_elem_pins_row`) — one fewer window expression; tier
    B keeps it unconditionally."""
    te = _tier_elements(pattern, spec.raw_define, lead, cols, eq_safe)
    if te is None or not te[0]:
        return None
    elem_info, conds = te
    k = len(elem_info)
    if k > 1 and not (elide_probe and _last_elem_pins_row(elem_info)):
        conds.append(f"{lead(None, k - 1)} IS NOT NULL")
    wb = _within_bound(df, spec, lead, k)
    if wb is None:
        return None
    if wb:
        conds.append(wb)
    return elem_info, conds


def _lead_measure(form, occ, elem_info, lead, order0, col_types, pat_vars):
    """One parsed MEASURE over the anchor row's LEAD offsets (tiers A,
    A′ and B), or None when outside the subset. A variable reads the
    offsets it owns in ``occ``, each behind its alternation branch's
    guard; SUM/MIN/MAX/AVG need exactly one offset (a one-row
    aggregate is the value itself). A variable this expansion never
    binds but ``pat_vars`` names (tier A′: another expansion binds
    it) reads as a typed NULL and counts 0 — the scalar evaluator's
    None for an unmatched variable (q53's off-branch measures)."""
    fn, v, col = form
    k = len(elem_info)
    if fn == "CLASSIFIER":
        last = elem_info[-1]
        return f"'{last[1]}'" if last[0] == "single" else last[2]
    if fn == "MATCH_ROWTIME":
        return lead(order0, k - 1)
    if fn == "COUNT":
        if v is None:
            return f"CAST({k} AS BIGINT)"
        base = sum(1 for _, g in occ.get(v, ()) if g is None)
        parts = [
            f" + (CASE WHEN {g} THEN 1 ELSE 0 END)"
            for _, g in occ.get(v, ())
            if g is not None
        ]
        return f"CAST({base}{''.join(parts)} AS BIGINT)"
    if v not in occ:
        if v not in pat_vars:
            return None
        return _one_row_value(fn, None, col_types[col])
    if fn in ("FIRST", "LAST"):
        pairs = [(g, lead(col, off)) for off, g in occ[v]]
        return _pref_case(pairs if fn == "FIRST" else pairs[::-1])
    if len(occ[v]) != 1:
        return None
    off, g = occ[v][0]
    val = lead(col, off)
    if g is not None:
        val = f"(CASE WHEN {g} THEN {val} END)"
    return _one_row_value(fn, val, col_types[col])


def _matched(df, lead, cols, sels, cond, flag):
    """``sels`` over the rows where ``cond`` holds, above ONE
    materialization of ``lead``'s navigations (:func:`_lead_prelude`):
    the tail of tiers A, A′ and P. ``cond`` is evaluated as the column
    ``flag``; None when an input column is named ``flag`` or collides
    with a navigation alias."""
    if flag in cols:
        return None
    base = _lead_prelude(df, lead, cols)
    if base is None:
        return None
    return base.selectExpr(
        *sels, f"{cond} AS `{flag}`"
    ).where(f"`{flag}`").drop(flag)


def _lead_sels(spec, forms, elem_info, lead, col_types):
    """The partition columns plus every measure through
    :func:`_lead_measure` (tiers A and B), or None."""
    occ = _var_occurrences(elem_info)
    sels = [f"`{c}`" for c in spec.partition_by]
    for form, name in forms:
        e = _lead_measure(
            form, occ, elem_info, lead, spec.order_by[0], col_types, occ
        )
        if e is None:
            return None
        sels.append(f"{e} AS `{name}`")
    return sels


def _within_bound(df, spec, lead, k):
    """WITHIN conjunct: '' when no WITHIN clause, None when the
    ORDER-BY dtype is unsupported (caller falls back to the NFA).
    Elapsed time between the match's first and last row; the first
    ORDER BY column is ascending (Flink's event-time constraint), so
    the k-1 offset carries the max elapsed. Integer microseconds
    subtract exactly (the scalar evaluator computes ns/1e9 on the
    small DIFFERENCE — same value); the reject fires only when the
    comparison is definitely TRUE, matching the scalar path's
    nan/None no-reject behavior."""
    if spec.within_seconds is None:
        return ""
    o0 = spec.order_by[0]
    dt = df.schema[o0].dataType.typeName()
    f_, l_ = lead(o0, 0), lead(o0, k - 1)
    if dt in ("timestamp", "timestamp_ntz"):
        # native int64 timestamp compare: l > f + INTERVAL is one
        # interval-add (constant-folded µs) + compare, where the
        # previous unix_micros(CAST(...)) form paid two ntz→ltz
        # casts + two epoch extractions per row — ~0.24 s per 5M-row
        # pass, the difference between q52's sf5 marginal sitting
        # just above vs just below the oracle's (round 13). Exact:
        # µs-precision timestamps add/compare as int64, and the
        # interval literal is the same exact µs bound the scalar
        # evaluator derives from its ns/1e9 difference.
        over = f"({l_} > {f_} + INTERVAL '{spec.within_seconds}' SECOND)"
    elif dt in ("long", "integer", "short", "byte", "double", "float"):
        el = f"(CAST({l_} AS DOUBLE) - CAST({f_} AS DOUBLE))"
        over = f"({el} > {spec.within_seconds!r})"
    else:
        return None  # dates/strings keep the NFA path
    return (
        f"(({f_} IS NULL) OR ({l_} IS NULL) OR NOT{over})"
    )


def _fixed_len_sql(df: DataFrame, spec: MatchSpec) -> "DataFrame | None":
    """JVM fast tier A: compile a FIXED-LENGTH pattern under AFTER
    MATCH SKIP TO NEXT ROW to pure window functions — no Python
    anywhere in the plan. Eligible shapes (None for everything else —
    the NFA matcher is the general path):

    - every pattern element consumes exactly one row: a single
      variable or a flat alternation of single variables (no
      quantifiers, groups, PERMUTE);
    - SKIP TO NEXT ROW makes matches independent per start row (no
      consumption coupling), so "match starting at row i" is a
      row-local predicate over LEAD offsets; WITHIN folds in as an
      exact integer-microsecond bound on the (first, last) offset
      pair;
    - every DEFINE is row-local: its own variable's columns plus
      PREV(col[, n]) physical navigation (round 10 — PREV renders as
      LEAD/LAG with SQL NULL-at-head semantics matching the scalar
      evaluator; see _tier_condition's exactness notes);
    - every measure is FIRST/LAST(V.col), a bare V.col (= LAST),
      MATCH_ROWTIME(), COUNT(*) / COUNT(V.*), CLASSIFIER(), or a
      single-offset SUM/MIN/MAX/AVG(V.col).

    This is the analog of Flink's logical rewrites that keep simple
    patterns out of the NFA operator: at 100 TB the plan is one
    keyed shuffle + Tungsten sort + whole-stage-codegen projection —
    scan-speed, zero Arrow hops. Bit-for-bit equality with the NFA
    matcher on eligible shapes is pinned by
    tests/test_cep_vectorized.py's randomized tier differential.
    Reference semantics: Flink 1.13 MATCH_RECOGNIZE (docs:
    queries/match_recognize — reference pins 1.13 in pom.xml:41)."""
    if (
        spec.all_rows
        or spec.skip_mode != "to_next"
        or isinstance(spec.pattern, PatternAST)
    ):
        return None
    _win, _part_sql, lead, cols, eq_safe, col_types = _tier_window(
        df, spec
    )
    forms = _tier_forms(spec, cols)
    if forms is None:
        return None
    st = _start_row(df, spec, spec.pattern, lead, cols, eq_safe)
    if st is None:
        return None
    elem_info, conds = st
    sels = _lead_sels(spec, forms, elem_info, lead, col_types)
    if sels is None:
        return None
    pred = " AND ".join(conds) if conds else "TRUE"
    # a fixed, unlikely flag name; an input column of that name → NFA
    return _matched(df, lead, cols, sels, f"({pred})", "__match_9f3a__")


def _fixed_len_all_rows_sql(
    df: DataFrame, spec: MatchSpec
) -> "DataFrame | None":
    """JVM fast tier A-all (round 11): FIXED-LENGTH single-variable
    patterns under AFTER MATCH SKIP TO NEXT ROW with ALL ROWS PER
    MATCH. SKIP TO NEXT ROW keeps matches independent per start row
    (tier A's argument), and a fixed-length match binds each variable
    to a STATICALLY KNOWN offset — so the k output rows of a match
    are k structs of LEAD projections (every input column at offset
    o, plus each measure evaluated with RUNNING semantics over the
    static prefix 0..o, FINAL over 0..k−1), assembled with one
    ``inline(array(...))``. A row belonging to several overlapping
    matches emits once per match with different RUNNING measures —
    the documented multiset semantics (Flink docs:
    queries/match_recognize §Output mode / §RUNNING and FINAL).
    Alternation elements are rejected: a data-dependent variable
    assignment would make the prefix measure sets non-static."""
    if (
        not spec.all_rows
        or spec.skip_mode != "to_next"
        or isinstance(spec.pattern, PatternAST)
    ):
        return None
    _win, _part_sql, lead, cols, eq_safe, col_types = _tier_window(
        df, spec
    )
    forms = _tier_forms(spec, cols)
    if forms is None:
        return None
    st = _start_row(df, spec, spec.pattern, lead, cols, eq_safe)
    if st is None:
        return None
    elem_info, conds = st
    if any(e[0] != "single" for e in elem_info):
        return None
    if "__mr_ok__" in cols or "__mr_arr__" in cols:
        return None
    k = len(elem_info)
    var_at = [e[1] for e in elem_info]
    order0 = spec.order_by[0]

    def measure_at(form, o: int) -> "str | None":
        """RUNNING measure over the static prefix 0..o (FINAL names
        evaluate at o = k−1 — the caller substitutes)."""
        fn, v, col = form
        if fn == "CLASSIFIER":
            return f"'{var_at[o]}'"
        if fn == "MATCH_ROWTIME":
            return lead(order0, o)
        if fn == "COUNT":
            if v is None:
                return f"CAST({o + 1} AS BIGINT)"
            if v not in var_at:
                return None
            return f"CAST({var_at[: o + 1].count(v)} AS BIGINT)"
        if v not in var_at:
            return None
        if fn not in ("FIRST", "LAST") and var_at.count(v) != 1:
            # single-occurrence variables only: a multi-row RUNNING
            # aggregate would need NULL-skipping n-ary arithmetic
            return None
        offs = [j for j in range(o + 1) if var_at[j] == v]
        val = (
            lead(col, offs[0] if fn == "FIRST" else offs[-1])
            if offs
            else None
        )
        return _one_row_value(fn, val, col_types[col])

    in_cols = list(df.columns)
    structs: list[str] = []
    for o in range(k):
        fields: list[str] = []
        for c in in_cols:
            fields.append(f"'{c}', {lead(c, o)}")
        for form, name in forms:
            e = measure_at(
                form, k - 1 if name in spec.final_measures else o
            )
            if e is None:
                return None
            fields.append(f"'{name}', {e}")
        structs.append(f"named_struct({', '.join(fields)})")
    cond = " AND ".join(conds) if conds else "TRUE"
    base = _lead_prelude(df, lead, cols)
    if base is None:
        return None
    return (
        base.selectExpr(
            f"({cond}) AS `__mr_ok__`",
            f"array({', '.join(structs)}) AS `__mr_arr__`",
        )
        .where("`__mr_ok__`")
        .selectExpr("inline(`__mr_arr__`)")
    )


class _Unbounded(Exception):
    """Pattern admits unboundedly many fixed-length expansions."""


#: expansion-count cap for tier A′ — PERMUTE width 4 is 24; wider
#: shapes (q55's width-6 PERMUTE = 720) keep the lazy NFA walker
_EXPANSION_CAP = 24


def _enumerate_expansions(pattern):
    """Enumerate the pattern's finite row-sequences as ordered
    variable lists, in the NFA's depth-first backtracking preference
    order: a greedy quantifier tries one more repetition (with all
    its continuations) before stopping, a reluctant one stops first,
    alternation prefers the leftmost branch, and PERMUTE walks its
    element orders lexicographically with the original order first —
    exactly the AST walker's DFS. Returns None when the pattern is
    unbounded (``+ * {n,}``), admits an empty match, or exceeds
    ``_EXPANSION_CAP``; those shapes stay on the NFA path.

    With every DEFINE row-local (the tiers' eligibility bar), the
    NFA's first successful DFS path from a given start row is the
    first expansion in this order whose full conjunction holds: a
    tail's conditions never depend on WHICH earlier branch matched,
    only on row values — the same argument :func:`_tier_elements`
    makes for flat alternation, lifted to whole expansions."""
    import itertools

    def node_exps(node):
        kind, body, quant = node
        lo, hi, reluct = _quant_bounds(quant)
        if hi is None:
            raise _Unbounded
        if kind == "atom":
            unit = [[body]]
        elif kind == "alt":
            unit = []
            for branch in body:
                unit.extend(seq_exps(branch))
                if len(unit) > _EXPANSION_CAP:
                    raise _Unbounded
        elif kind == "perm":
            unit = []
            for order in itertools.permutations(range(len(body))):
                pseudo = [("alt", body[i], "1") for i in order]
                unit.extend(seq_exps(pseudo))
                if len(unit) > _EXPANSION_CAP:
                    raise _Unbounded
        else:  # pragma: no cover — the parser emits only the above
            raise _Unbounded

        def rep(n):
            stop = [[]] if n >= lo else []
            more = []
            if n < hi:
                for u in unit:
                    for t in rep(n + 1):
                        more.append(u + t)
                        if len(more) > _EXPANSION_CAP:
                            raise _Unbounded
            return (stop + more) if reluct else (more + stop)

        return rep(0)

    def seq_exps(nodes):
        # build right-to-left so earlier nodes vary slowest — the
        # DFS visits the first node's first choice with every tail
        # before moving on
        out = [[]]
        for node in reversed(nodes):
            head = node_exps(node)
            out = [h + t for h in head for t in out]
            if len(out) > _EXPANSION_CAP:
                raise _Unbounded
        return out

    try:
        if isinstance(pattern, PatternAST):
            exps = seq_exps(pattern.nodes)
        else:
            pseudo = []
            for alts, quant in pattern:
                if len(alts) == 1:
                    pseudo.append(("atom", alts[0], quant))
                else:
                    pseudo.append((
                        "alt",
                        [[("atom", a, "1")] for a in alts],
                        quant,
                    ))
            exps = seq_exps(pseudo)
    except _Unbounded:
        return None
    if any(not e for e in exps):
        return None  # empty match — Flink rejects these; NFA is loud
    return exps


def _multi_len_sql(df: DataFrame, spec: MatchSpec) -> "DataFrame | None":
    """JVM fast tier A′: a BOUNDED-length pattern under AFTER MATCH
    SKIP TO NEXT ROW — quantified elements, nested groups, sequence
    alternation, PERMUTE — compiled by enumerating the pattern's
    fixed-length expansions (:func:`_enumerate_expansions`, NFA DFS
    preference order, ≤ ``_EXPANSION_CAP``) and selecting the FIRST
    expansion whose LEAD-conjunction holds at each start row with
    one ordered CASE. SKIP TO NEXT ROW keeps matches
    consumption-free, so per-row first-true IS the NFA's DFS answer
    for row-local defines. Every measure compiles per-expansion
    (typed NULL / COUNT 0 when that expansion never binds the
    variable) and folds through the same CASE; WITHIN folds in
    per-expansion on each length's (first, last) offset pair.

    Covers q50's 3-wide PERMUTE (6 expansions), q51's quantified
    group ``STRT (HI LO){1,2}`` (greedy: the 5-row expansion is
    enumerated before the 3-row one), and q53's sequence alternation
    ``(A B C | D)`` (leftmost first). The physical plan is one keyed
    shuffle + Tungsten sort + whole-stage-codegen projection — the
    LEAD offsets are shared across expansions, so Catalyst computes
    each distinct window expression once. Bit-for-bit equality with
    the NFA on eligible shapes is pinned by the randomized tier
    differential (tests/test_cep_vectorized.py). Reference
    semantics: Flink 1.13 MATCH_RECOGNIZE (docs:
    queries/match_recognize §Quantifiers, §PERMUTE — the reference
    pins Flink 1.13 in pom.xml:41)."""
    if spec.all_rows or spec.skip_mode != "to_next":
        return None
    if not isinstance(spec.pattern, PatternAST) and all(
        q == "1" for _, q in spec.pattern
    ):
        return None  # plain fixed-length — tier A owns it
    exps = _enumerate_expansions(spec.pattern)
    if exps is None:
        return None
    _win, _part_sql, lead, cols, eq_safe, col_types = _tier_window(
        df, spec
    )
    forms = _tier_forms(spec, cols)
    if forms is None:
        return None
    per: list[tuple] = []
    for exp in exps:
        flat = [((v,), "1") for v in exp]
        st = _start_row(df, spec, flat, lead, cols, eq_safe)
        if st is None:
            return None
        elem_info, conds = st
        cond = " AND ".join(conds) if conds else "TRUE"
        per.append((elem_info, _var_occurrences(elem_info), cond))
    pat_vars = {v for exp in exps for v in exp}
    sels: list[str] = [f"`{c}`" for c in spec.partition_by]
    for form, name in forms:
        whens: list[str] = []
        for elem_info, occ, cond in per:
            e = _lead_measure(
                form, occ, elem_info, lead, spec.order_by[0], col_types,
                pat_vars,
            )
            if e is None:
                return None
            whens.append(f"WHEN {cond} THEN {e}")
        sels.append(f"(CASE {' '.join(whens)} END) AS `{name}`")
    any_cond = "(" + " OR ".join(f"({c})" for _, _, c in per) + ")"
    return _matched(df, lead, cols, sels, any_cond, "__mr_exp__")


#: auxiliary column names used by tiers B/C; input collision → NFA
_TIER_AUX = ("__mr_rn__", "__mr_grp__", "__mr_pos__", "__mr_ok__",
             "__mr_head__", "__mr_n__", "__mr_exp__", "__mr_cls__",
             "__mr_prev__")


_BAND_TERM = re.compile(
    r"^\s*(\w+)\.(\w+)\s*(<=|>=|<|>)\s*(-?\d+(?:\.\d+)?)\s*$"
)

def _disjoint_bands(raw_define, vars_, col_types):
    """Prove the PERMUTE variables' defines are pairwise-DISJOINT
    intervals over ONE shared numeric column: each define must be a
    bare AND-conjunction of ``V.col OP literal`` comparisons (no OR,
    no parens, no PREV/navigation), all on the same column, and the
    resulting intervals must not overlap. Returns (col, ordered list
    of (var, interval)) or None. Disjointness is what collapses the
    k! orderings: a window of k rows admits AT MOST ONE variable per
    row, so the NFA's DFS preference order is irrelevant — the match
    exists iff every row classifies and the classes are a
    permutation."""
    col = None
    ivals: list[tuple] = []
    inf = float("inf")
    for v in vars_:
        src = raw_define.get(v)
        if src is None or re.search(r"\bOR\b|[()]", src, re.I):
            return None
        lo, lo_in, hi, hi_in = -inf, False, inf, False
        for part in re.split(r"\s+AND\s+", src.strip(), flags=re.I):
            m = _BAND_TERM.match(part)
            if m is None or m.group(1) != v:
                return None
            c, op, lit = m.group(2), m.group(3), float(m.group(4))
            if col is None:
                if col_types.get(c) not in _NUM_TYPES:
                    return None
                col = c
            elif c != col:
                return None
            # one consistent tightness key per side (ADVICE r11):
            # upper bounds order by (value, inclusive) — smaller is
            # tighter, exclusive beats inclusive at equal value;
            # lower bounds order by (value, EXCLUSIVE) — larger is
            # tighter, so 'x >= 5 AND x > 5' keeps the exclusive
            # bound (the old encoding compared candidates and the
            # incumbent under different keys and kept the looser one)
            if op == "<" and (lit, False) < (hi, hi_in):
                hi, hi_in = lit, False
            elif op == "<=" and (lit, True) < (hi, hi_in):
                hi, hi_in = lit, True
            elif op == ">" and (lit, True) > (lo, not lo_in):
                lo, lo_in = lit, False
            elif op == ">=" and (lit, False) > (lo, not lo_in):
                lo, lo_in = lit, True
        ivals.append((v, (lo, lo_in, hi, hi_in)))
    if col is None:
        return None
    for i in range(len(ivals)):
        for j in range(i + 1, len(ivals)):
            la, lai, ha, hai = ivals[i][1]
            lb, lbi, hb, hbi = ivals[j][1]
            # intersection under the same keys: lower side compares
            # (value, exclusive) so the EXCLUSIVE bound wins a value
            # tie (the old inclusive-wins tie-break only made the
            # proof more conservative, but encode it consistently)
            lo, lo_ex = max((la, not lai), (lb, not lbi))
            hi, hi_in = min((ha, hai), (hb, hbi))
            if lo < hi or (lo == hi and not lo_ex and hi_in):
                return None  # overlapping bands → NFA path
    return col, ivals


def _permute_bands_sql(
    df: DataFrame, spec: MatchSpec
) -> "DataFrame | None":
    """JVM fast tier P: ``PATTERN (PERMUTE(V0, .., Vk-1))`` of simple
    atoms under AFTER MATCH SKIP TO NEXT ROW where every define is a
    DISJOINT numeric band on one shared column (:func:`_disjoint_
    bands`). Width is unbounded — the k! orderings (720 for q55's
    width 6, past tier A′'s expansion cap) collapse to a per-row band
    classification plus k−1 LEADs: a window matches iff every row
    classifies and the class multiset is the full permutation, which
    k shifted class columns summing ``1 << class`` to ``2^k − 1``
    decide exactly (k powers of two reach the all-ones mask only
    carry-free, i.e. all distinct). Each variable then binds exactly
    one known row, so FIRST = LAST = the row where its class sits,
    and CLASSIFIER() is the last row's class name. The plan is one
    keyed exchange + Tungsten sort + codegen projection, zero Python
    — same posture as tiers A/A′ (reference semantics: Flink 1.13
    docs queries/match_recognize §PERMUTE; the scalar NFA walker
    stays the general path and the randomized tier differential pins
    equality on eligible shapes)."""
    if spec.all_rows or spec.skip_mode != "to_next":
        return None
    if not isinstance(spec.pattern, PatternAST):
        return None
    nodes = spec.pattern.nodes
    if len(nodes) != 1 or nodes[0][0] != "perm" or nodes[0][2] != "1":
        return None
    vars_: list[str] = []
    for elem in nodes[0][1]:  # branch list per PERMUTE element
        if (
            len(elem) != 1
            or len(elem[0]) != 1
            or elem[0][0][0] != "atom"
            or elem[0][0][2] != "1"
        ):
            return None
        vars_.append(elem[0][0][1])
    k = len(vars_)
    if k < 2 or k > 16:  # 1<<k must stay in INT; width 1 is tier A
        return None
    _win, _part_sql, lead, cols, eq_safe, col_types = _tier_window(
        df, spec
    )
    forms = _tier_forms(spec, cols)
    if forms is None or any(a in cols for a in _TIER_AUX):
        return None
    bands = _disjoint_bands(spec.raw_define, vars_, col_types)
    if bands is None:
        return None
    band_col, ivals = bands
    # per-row class on the BASE relation (one projection, LEADed k−1
    # times); NaN guard: Spark orders NaN above every double, the
    # scalar matcher's NaN comparisons are all False → unclassified
    whens = []
    if col_types.get(band_col) in ("double", "float"):
        whens.append(f"WHEN isnan(`{band_col}`) THEN NULL")
    for j, v in enumerate(vars_):
        cond = _tier_condition(
            spec.raw_define[v], v, 0, cols, eq_safe, lead
        )
        if cond is None:
            return None
        whens.append(f"WHEN {cond} THEN {j}")
    cls = "(CASE " + " ".join(whens) + " END)"
    aux = "__mr_cls__"
    base = df.selectExpr("*", f"{cls} AS `{aux}`")
    _w2, _p2, lead2, _c2, _e2, _t2 = _tier_window(base, spec)
    c_at = [lead2(aux, i) for i in range(k)]
    mask = " + ".join(f"SHIFTLEFT(1, {c})" for c in c_at)
    conds = [f"({mask}) = {(1 << k) - 1}"]
    wb = _within_bound(base, spec, lead2, k)
    if wb is None:
        return None
    if wb:
        conds.append(wb)

    def var_row(j: int, col: str) -> str:
        # exactly one window row classifies as j inside a match
        return (
            "(CASE "
            + " ".join(
                f"WHEN {c_at[i]} = {j} THEN {lead2(col, i)}"
                for i in range(k)
            )
            + " END)"
        )

    vidx = {v: j for j, v in enumerate(vars_)}
    sels = [f"`{c}`" for c in spec.partition_by]
    for form, name in forms:
        e = _permute_measure(
            form, vidx, var_row, c_at, lead2, spec.order_by[0], col_types
        )
        if e is None:
            return None
        sels.append(f"{e} AS `{name}`")
    return _matched(
        base, lead2, set(base.columns), sels,
        f"({' AND '.join(conds)})", "__mr_ok__",
    )


def _permute_measure(form, vidx, var_row, c_at, lead, order0, col_types):
    """One parsed MEASURE over the permute tier's class columns, or
    None when outside the subset. Every variable binds exactly one
    row, so each value form reads the row whose class is the
    variable's index."""
    fn, v, col = form
    k = len(c_at)
    if fn == "CLASSIFIER":
        return (
            "(CASE "
            + " ".join(
                f"WHEN {c_at[k - 1]} = {j} THEN '{var}'"
                for var, j in vidx.items()
            )
            + " END)"
        )
    if fn == "MATCH_ROWTIME":
        return lead(order0, k - 1)
    if fn == "COUNT":
        if v is None:
            return f"CAST({k} AS BIGINT)"
        return "CAST(1 AS BIGINT)" if v in vidx else None
    if v not in vidx:
        return None
    return _one_row_value(fn, var_row(vidx[v], col), col_types[col])


def _chain_expand(pattern, raw_define):
    """For SKIP PAST LAST ROW at k ≥ 3: the stride-k islands rewrite
    of :func:`_fixed_len_past_sql` is exact iff the start-row
    predicate is k-CONVEX — pred(a) ∧ pred(b) with b−a < k implies
    pred(t) for every a < t < b — because then maximal pred-true
    runs are ≥ k apart and the greedy scan can never consume another
    run's head. Convexity holds when every conjunct of pred(i) is a
    fixed function of an ABSOLUTE row position shared across
    overlapping anchors: pred(i) = ⋀_{j=1..k−1} f(i+j) gives
    pred(t)'s conjuncts f(t+1..t+k−1) ⊆ f(a+1..b+k−1), all true.

    That is exactly the shape ``HEAD TAIL{m,m}`` (k = m+1 ≥ 3) with
    HEAD define-free (a HEAD define would add a conjunct at offset 0
    — NOT shared — and break convexity: pred true at i and i+2 but
    false at i+1 makes the stride rewrite over-produce) and TAIL's
    define referencing only its own row and ``PREV(col, 1)`` — each
    copy's condition is then the same function of one adjacent row
    pair (q49's rising-run shape). Returns the expanded flat
    pattern, or None."""
    if len(pattern) != 2:
        return None
    (a0, q0), (a1, q1) = pattern
    if len(a0) != 1 or len(a1) != 1 or q0 != "1":
        return None
    head, tail = a0[0], a1[0]
    if raw_define.get(head) is not None:
        return None
    lo, hi, _rel = _quant_bounds(q1)
    if hi is None or hi != lo or lo < 2:
        return None
    src = raw_define.get(tail)
    if src is None:
        return None  # all-always-true tail → whole-partition stride
    for m in _PREV_NAV.finditer(src):
        if int(m.group(3) or 1) != 1:
            return None  # PREV(col, n≥2) spans 3 rows — not a chain
    return [((head,), "1")] + [((tail,), "1")] * lo


def _fixed_len_past_sql(
    df: DataFrame, spec: MatchSpec
) -> "DataFrame | None":
    """JVM fast tier B: FIXED-LENGTH pattern (k ≤ 2) under AFTER
    MATCH SKIP PAST LAST ROW. The start-row predicate is the same
    row-local LEAD compilation as tier A, but consumption couples
    matches: the greedy scan claims the first predicate-true row,
    skips k rows, and resumes. Within each maximal run of
    predicate-true start rows that is exactly a stride-k walk, so
    matches are the rows at (pos - 1) % k == 0 inside each run
    (gaps-and-islands + parity — the same independent formulation
    the q47/q52 DuckDB oracles use).

    k is capped at 2: for k ≥ 3 a match can consume a
    predicate-false row FOLLOWED by a predicate-true row inside its
    span, so the next run's head may start on a consumed row and the
    parity rewrite over-produces (e.g. k=3, pred true at p and p+2
    only: the NFA's next attempt is p+3, not p+2). k = 2 has a
    single interior row, so any pred-true interior position is
    necessarily in the same run and the stride covers it; k = 1 is
    consumption-free (≡ SKIP TO NEXT ROW). Measures are computed in
    the first window pass (they are row-local), then carried through
    the island filter unchanged.

    Round 10: the k ≤ 2 cap lifts for the ``HEAD TAIL{m,m}`` chain
    shape (q49's ``STRT UP{2}``), where the start-row predicate is
    k-convex and the stride rewrite is exact at any k — see
    :func:`_chain_expand` for the argument.

    Round 10 (late): ``AFTER MATCH SKIP TO FIRST/LAST <var>`` is the
    same greedy scan with the resume point at the variable's
    first/last matched row instead of past the match end — i.e. the
    identical islands rewrite with stride = that row's offset. The
    consumed-row hazard depends only on the STRIDE (rows the scan
    jumps over), not on k: stride 1 re-arms on the very next row
    (every predicate-true row emits, no islands needed) and stride 2
    skips a single interior row, which — if predicate-true — is
    necessarily in the same island and covered by the parity walk.
    Stride ≥ 3 has the same over-produce hazard as k ≥ 3 under PAST
    LAST ROW and stays NFA; stride 0 (skip to the match's own first
    row) is Flink's refuse-to-loop error and the NFA path raises it
    loudly."""
    if (
        spec.all_rows
        or spec.skip_mode not in ("past_last", "to_first", "to_last")
        or isinstance(spec.pattern, PatternAST)
    ):
        return None
    pattern = spec.pattern
    chain = None
    if not all(q == "1" for _, q in pattern):
        # round 10: HEAD TAIL{m,m} chain shape — the stride rewrite
        # is exact at ANY k there (k-convexity; see _chain_expand),
        # which lifts the k ≤ 2 cap for q49's rising-run family.
        # WITHIN adds a (first, last)-pair conjunct that is NOT
        # shared across anchors, so it stays NFA. Quantifiers under
        # SKIP TO FIRST/LAST make the skip offset match-dependent —
        # NFA path.
        if spec.within_seconds is not None or spec.skip_mode != "past_last":
            return None
        chain = _chain_expand(pattern, spec.raw_define)
        if chain is None:
            return None
        pattern = chain
    win, part_sql, lead, cols, eq_safe, col_types = _tier_window(
        df, spec
    )
    forms = _tier_forms(spec, cols)
    if forms is None:
        return None
    st = _start_row(
        df, spec, pattern, lead, cols, eq_safe, elide_probe=False
    )
    if st is None:
        return None
    elem_info, conds = st
    k = len(elem_info)
    if spec.skip_mode == "past_last":
        stride = k
        if k > 2 and chain is None:
            return None
    else:
        # stride = the skip variable's first/last UNCONDITIONAL
        # offset; a guarded occurrence (alternation branch) makes the
        # resume point depend on which branch matched — NFA path.
        occs = _var_occurrences(elem_info).get(spec.skip_var)
        if not occs or any(g is not None for _, g in occs):
            return None
        offs = [o for o, _ in occs]
        stride = min(offs) if spec.skip_mode == "to_first" else max(offs)
        if stride < 1 or stride > 2:
            return None
    if not conds:
        return None  # all-always-true → whole-partition stride; NFA
    sels = _lead_sels(spec, forms, elem_info, lead, col_types)
    names = [n for _, n in forms]
    if sels is None or any(a in cols or a in names for a in _TIER_AUX):
        return None
    out_cols = [f"`{c}`" for c in spec.partition_by] + [
        f"`{n}`" for n in names
    ]
    pred = " AND ".join(conds)
    # __mr_rn__ joins the prelude so the plan keeps ONE Window op
    lead.exprs["__mr_rn__"] = f"ROW_NUMBER() OVER {win}"
    base = _lead_prelude(df, lead, cols)
    if base is None:
        return None
    s1 = base.selectExpr(
        *sels,
        f"({pred}) AS `__mr_ok__`",
        "`__mr_rn__`",
    ).where("`__mr_ok__`")
    if stride == 1:
        # the scan re-arms on the very next row: every
        # predicate-true row emits (k == 1, or SKIP TO a var at
        # offset 1 — the boundary guard for k > 1 is in the pred)
        return s1.selectExpr(*out_cols)
    # islands + parity via head-detection + running max: a candidate
    # row heads its island iff the previous candidate (full-ordering
    # rn) is not rn-1; position-within-island is rn - head_rn. The
    # classic (grp = rn - seq, pos = ROW_NUMBER over (part, grp))
    # formulation is equivalent but its second window re-sorts by
    # (part, grp, rn) — an ordering the data already HAS (grp is
    # non-decreasing in rn within a partition) yet Catalyst cannot
    # prove. Both windows below share the (part, rn) sort, so the
    # post-filter cost is ONE sort of the candidate set + two chained
    # Window ops with no Exchange (round 12: q52 was the only CEP
    # entry >2x the oracle at sf5; the avoidable sort was the gap).
    over = f"(PARTITION BY {part_sql} ORDER BY `__mr_rn__`)"
    s2 = s1.selectExpr(
        "*", f"LAG(`__mr_rn__`) OVER {over} AS `__mr_prev__`"
    )
    s3 = s2.selectExpr(
        "*",
        "MAX(CASE WHEN `__mr_prev__` IS NULL OR"
        " `__mr_prev__` <> `__mr_rn__` - 1 THEN `__mr_rn__` END)"
        f" OVER (PARTITION BY {part_sql} ORDER BY `__mr_rn__`"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        " AS `__mr_head__`",
    )
    return s3.where(
        f"(`__mr_rn__` - `__mr_head__`) % {stride} = 0"
    ).selectExpr(*out_cols)


def _islands(df, spec, taken):
    """Tier C's island decomposition for ``PATTERN (S B+)`` /
    ``(S B*)`` under AFTER MATCH SKIP PAST LAST ROW, S define-free,
    B's define row-local and no WITHIN (see :func:`_trailing_plus_sql`
    for why exactly these): ``df`` plus ``__mr_rn__`` (the row number
    in the full ordering) and ``__mr_head__`` (the rn of the row's
    island head). Returns (frame, part_sql, col_types, s_var, b_var,
    min_n) — ``min_n`` is the smallest island that is a match — or
    None for any other spec and when an input column is named in
    ``taken``. Shared with :func:`fb_trailing_plus_split`, whose
    emission frontier is the last island head."""
    if (
        spec.skip_mode != "past_last"
        or isinstance(spec.pattern, PatternAST)
        or spec.within_seconds is not None
        or len(spec.pattern) != 2
    ):
        return None
    (a0, q0), (a1, q1) = spec.pattern
    if len(a0) != 1 or len(a1) != 1 or q0 != "1" or q1 not in ("+", "*"):
        return None
    s_var, b_var = a0[0], a1[0]
    if spec.raw_define.get(s_var) is not None:
        return None
    src = spec.raw_define.get(b_var)
    if src is None:
        return None  # always-true B consumes whole partitions — NFA
    win, part_sql, lead, cols, eq_safe, col_types = _tier_window(
        df, spec
    )
    cond = _tier_condition(src, b_var, 0, cols, eq_safe, lead)
    if cond is None or any(a in cols for a in taken):
        return None
    # rn joins the prelude's Window op; a PREV-navigating define
    # (q45's rising streak) becomes a plain prelude column instead of
    # a LAG nested inside the running MAX below
    lead.exprs["__mr_rn__"] = f"ROW_NUMBER() OVER {win}"
    s1 = _lead_prelude(df, lead, cols)
    if s1 is None:
        return None
    # running island head: the latest row whose define is NOT true
    # (CASE falls through on both FALSE and NULL — LAG at the
    # partition head, NULL operands — exactly the scalar evaluator's
    # no-match outcomes); COALESCE covers a define-true run at the
    # very head of the partition (possible only for PREV-free
    # defines), whose head is row 1
    s2 = s1.selectExpr(
        "*",
        f"COALESCE(MAX(CASE WHEN {cond} THEN CAST(NULL AS BIGINT)"
        f" ELSE `__mr_rn__` END) OVER (PARTITION BY {part_sql}"
        f" ORDER BY `__mr_rn__` ROWS BETWEEN UNBOUNDED PRECEDING AND"
        f" CURRENT ROW), CAST(1 AS BIGINT)) AS `__mr_head__`",
    )
    return s2, part_sql, col_types, s_var, b_var, (2 if q1 == "+" else 1)


def _trailing_agg_measure(form, s_var, b_var, order0, col_types, min_n):
    """One parsed MEASURE → a SQL aggregate over one island group
    (tier C), or None. The island's min-__mr_rn__ row is the prefix
    variable's row (the head); every later row belongs to the
    trailing quantified variable."""
    fn, v, col = form
    b_filter = "FILTER (WHERE `__mr_rn__` > `__mr_head__`)"
    if fn == "COUNT":
        if v is None:
            return "count(*)"
        if v == s_var:
            return "CAST(1 AS BIGINT)"
        if v == b_var:
            return "(count(*) - CAST(1 AS BIGINT))"
        return None
    if fn == "CLASSIFIER":
        if min_n >= 2:
            return f"'{b_var}'"
        return (
            f"(CASE WHEN count(*) >= 2 THEN '{b_var}'"
            f" ELSE '{s_var}' END)"
        )
    if fn == "MATCH_ROWTIME":
        return f"max_by(`{order0}`, `__mr_rn__`)"
    if v == s_var:  # the head row
        return _one_row_value(
            fn, f"min_by(`{col}`, `__mr_rn__`)", col_types[col]
        )
    if v != b_var:
        return None
    if fn in ("FIRST", "LAST"):
        agg = "min_by" if fn == "FIRST" else "max_by"
        return f"{agg}(`{col}`, `__mr_rn__`) {b_filter}"
    if fn in ("SUM", "AVG") and col_types[col] not in _NUM_TYPES:
        return None  # decimal widening diverges → NFA
    return f"{fn.lower()}(`{col}`) {b_filter}"


def _trailing_allrows_measure(
    form, final, s_var, b_var, order0, col_types, min_n, wi, wi_full,
):
    """One parsed MEASURE → a per-ROW window expression over one
    island (tier C, ALL ROWS PER MATCH), or None. RUNNING (the
    default) sees the island rows up to the current one; ``final``
    sees the whole island. ``wi`` is the running per-island window
    (ORDER BY __mr_rn__), ``wi_full`` the unbounded-frame variant.
    Exactness notes: running double SUM/AVG accumulate in frame order
    — the scalar evaluator's row order; NTH_VALUE/LAST_VALUE return
    NULL outside the frame exactly where the scalar path returns None
    for a variable with no rows yet."""
    fn, v, col = form
    pos = f"ROW_NUMBER() OVER {wi}"
    n_full = f"COUNT(1) OVER {wi_full}"
    if fn == "COUNT":
        if v is None:
            return f"CAST({n_full if final else pos} AS BIGINT)"
        if v == s_var:
            return "CAST(1 AS BIGINT)"
        if v == b_var:
            return f"CAST(({n_full if final else pos}) - 1 AS BIGINT)"
        return None
    if fn == "CLASSIFIER":
        if not final:
            return (
                f"(CASE WHEN {pos} = 1 THEN '{s_var}'"
                f" ELSE '{b_var}' END)"
            )
        if min_n >= 2:
            return f"'{b_var}'"
        return (
            f"(CASE WHEN {n_full} >= 2 THEN '{b_var}'"
            f" ELSE '{s_var}' END)"
        )
    if fn == "MATCH_ROWTIME":
        if final:
            return f"LAST_VALUE(`{order0}`) OVER {wi_full}"
        return f"`{order0}`"  # last row so far = the current row
    if v == s_var:  # the head row — available from pos 1 onward
        return _one_row_value(
            fn, f"FIRST_VALUE(`{col}`) OVER {wi}", col_types[col]
        )
    if v != b_var:
        return None
    if fn == "FIRST":
        w = wi_full if final else wi
        return (
            f"(CASE WHEN {n_full if final else pos} >= 2"
            f" THEN NTH_VALUE(`{col}`, 2) OVER {w} END)"
        )
    if fn == "LAST":
        if final:
            return (
                f"(CASE WHEN {n_full} >= 2"
                f" THEN LAST_VALUE(`{col}`) OVER {wi_full} END)"
            )
        # RUNNING LAST(B.col): NULL on the head row, else this row
        return f"(CASE WHEN {pos} > 1 THEN `{col}` END)"
    if fn in ("SUM", "AVG") and col_types[col] not in _NUM_TYPES:
        return None  # decimal widening diverges → NFA
    w = wi_full if final else wi
    return (
        f"{fn.lower()}((CASE WHEN `__mr_rn__` > `__mr_head__`"
        f" THEN `{col}` END)) OVER {w}"
    )


def _trailing_plus_sql(
    df: DataFrame, spec: MatchSpec
) -> "DataFrame | None":
    """JVM fast tier C: ``PATTERN (S B+)`` / ``(S B*)`` under AFTER
    MATCH SKIP PAST LAST ROW with a define-free prefix variable and a
    row-local trailing define — the Ticker rising-streak shape (q45).
    Greedy B consumes the maximal run of define-true rows, and with S
    always-true every run break starts the next attempt, so matches
    are EXACTLY the gaps-and-islands decomposition: break rows (rows
    whose define is not TRUE, including the partition head via LAG →
    NULL) head their islands, trailing define-true rows attach, and
    islands of size ≥ 1 + lo(B) are matches. One window pass computes
    the define and the running island head; the group-by on
    (partition, head) reuses the window's hash partitioning — ONE
    exchange total, zero Python.

    A DEFINED prefix variable is rejected: a failed head retries
    INSIDE the island (consumption recursion the window rewrite
    cannot express). WITHIN is rejected: the time bound truncates
    greedy consumption mid-island. Exactness vs the NFA matcher is
    pinned by the randomized tier differential; aggregate measures
    fold in __mr_rn__ order (contiguous sorted rows), so float SUM/
    AVG accumulate in the same sequential IEEE order as the scalar
    path.

    ALL ROWS PER MATCH (q48/q56) keeps the same island decomposition
    and swaps the group-by for per-island WINDOW functions: every
    island row is emitted with RUNNING measures over the rows-so-far
    frame and FINAL measures over the unbounded frame — still one
    exchange, zero Python (the per-island windows cluster on a
    superset of the partition keys, so the hash partitioning is
    reused)."""
    forms = _tier_forms(spec, set(df.columns))
    if forms is None or any(n in _TIER_AUX for _, n in forms):
        return None
    isl = _islands(df, spec, _TIER_AUX)
    if isl is None:
        return None
    s2, part_sql, col_types, s_var, b_var, min_n = isl
    wi = (
        f"(PARTITION BY {part_sql}, `__mr_head__`"
        f" ORDER BY `__mr_rn__`)"
    )
    wi_full = (
        f"(PARTITION BY {part_sql}, `__mr_head__`"
        f" ORDER BY `__mr_rn__` ROWS BETWEEN UNBOUNDED PRECEDING"
        f" AND UNBOUNDED FOLLOWING)"
    )
    order0 = spec.order_by[0]
    aggs: list[tuple[str, str]] = []
    for form, name in forms:
        if spec.all_rows:
            e = _trailing_allrows_measure(
                form, name in spec.final_measures, s_var, b_var,
                order0, col_types, min_n, wi, wi_full,
            )
        else:
            e = _trailing_agg_measure(
                form, s_var, b_var, order0, col_types, min_n
            )
        if e is None:
            return None
        aggs.append((e, name))
    from pyspark.sql import functions as F

    if spec.all_rows:
        s3 = s2.selectExpr(
            "*",
            f"COUNT(1) OVER {wi_full} AS `__mr_n__`",
            *[f"{e} AS `{n}`" for e, n in aggs],
        )
        return s3.where(F.col("__mr_n__") >= min_n).select(
            *df.columns, *[n for _, n in aggs]
        )
    grouped = s2.groupBy(
        *[F.col(c) for c in spec.partition_by], F.col("__mr_head__")
    ).agg(
        F.expr("count(*)").alias("__mr_n__"),
        *[F.expr(e).alias(n) for e, n in aggs],
    )
    return grouped.where(
        F.col("__mr_n__") >= min_n
    ).select(*spec.partition_by, *[n for _, n in aggs])


def _tier_schema_ok(result: DataFrame, output_schema: str) -> bool:
    """Belt-and-braces: a tier result must carry EXACTLY the schema
    the NFA path would produce (names + types, nullability ignored) —
    a mismatch falls back to the NFA rather than shipping a
    differently-typed answer."""
    try:
        from pyspark.sql.types import _parse_datatype_string

        exp = _parse_datatype_string(output_schema)
    except Exception:
        return True  # parser unavailable — keep the tier result
    got = result.schema
    return [(f.name, f.dataType) for f in exp.fields] == [
        (f.name, f.dataType) for f in got.fields
    ]


#: constant grouping key of a GLOBAL pattern (no PARTITION BY)
_GK = "__mr_gk__"


def _with_global_key(df, spec):
    """(keyed frame, keyed spec) for a pattern without PARTITION BY:
    Flink runs such a pattern at parallelism 1, here one group of the
    constant column ``_GK``. Raises on an input column of that name."""
    import dataclasses

    from pyspark.sql import functions as F

    if _GK in df.columns:
        raise ValueError(
            f"MATCH_RECOGNIZE: input column {_GK!r} collides with"
            " the global-pattern grouping key"
        )
    return (
        df.withColumn(_GK, F.lit(0)),
        dataclasses.replace(spec, partition_by=[_GK]),
    )


def match_recognize(
    df: DataFrame, spec: MatchSpec, output_schema: str
) -> DataFrame:
    """Apply the spec Spark-first: ONE shuffle on PARTITION BY, a
    JVM-side (Tungsten) sort within partitions on (keys, ORDER BY),
    then a chunked ``mapInPandas`` matcher. Groups are contiguous
    after the sort, so every Arrow chunk carries many groups and the
    per-group pandas overhead that dominated the round-8 profile
    (sort_values + to_dict('records') + per-group bitmap builds on
    ~70-row groups) collapses to one vectorized pass per chunk; row
    data is read lazily through column arrays (_ColRows), so rows
    never touched by a match are never materialized. A group split
    across Arrow chunks is carried into the next chunk (chunks arrive
    in partition order), so results are chunking-invariant.

    Reference semantics: Flink 1.13 MATCH_RECOGNIZE
    (docs/queries/match_recognize; reference pins Flink 1.13 in
    pom.xml:41). Row-local shapes take a pure-JVM window tier first,
    tried in this order:

    - A, fixed-length SKIP TO NEXT ROW (_fixed_len_sql);
    - A-all, the same under ALL ROWS PER MATCH
      (_fixed_len_all_rows_sql);
    - A′, bounded-length SKIP TO NEXT ROW through its fixed-length
      expansions (_multi_len_sql);
    - P, PERMUTE of disjoint numeric bands (_permute_bands_sql);
    - B, fixed-length SKIP PAST LAST ROW / SKIP TO FIRST/LAST <var>
      with stride ≤ 2 or the HEAD TAIL{m,m} chain
      (_fixed_len_past_sql);
    - C, the trailing-quantifier Ticker shape (_trailing_plus_sql).

    A tier result whose schema deviates from the NFA's falls back
    rather than shipping a differently-typed answer.

    A GLOBAL pattern (no PARTITION BY — Flink 1.13 allows it) routes
    through a constant grouping key: one group, which is exactly
    Flink's own semantics there (the pattern runs at parallelism 1).
    The caveat is inherent to the semantics, not this implementation
    — a totally ordered global match cannot parallelize."""
    if not spec.partition_by:
        kdf, keyed = _with_global_key(df, spec)
        out = match_recognize(
            kdf, keyed, infer_output_schema(keyed, kdf)
        )
        return out.drop(_GK)
    for tier in (
        _fixed_len_sql, _fixed_len_all_rows_sql, _multi_len_sql,
        _permute_bands_sql, _fixed_len_past_sql, _trailing_plus_sql,
    ):
        fast = tier(df, spec)
        if fast is not None and _tier_schema_ok(fast, output_schema):
            return fast
    _reject_wide_permute(spec)  # the NFA route is factorial in width
    from pyspark.sql import functions as F

    keys = list(spec.partition_by)
    asc = spec.order_asc or [True] * len(spec.order_by)
    # nulls LAST under asc (Spark's default is first) — the round-8
    # per-group pandas sort_values put NaT/NaN last, and the
    # streaming buffered path still sorts with pandas; keep all three
    # routes ordering NULL keys identically (ADVICE r9 finding 5)
    sort_cols = [F.col(k).asc() for k in keys] + [
        F.col(c).asc_nulls_last() if a else F.col(c).desc()
        for c, a in zip(spec.order_by, asc)
    ]
    def run(it):
        import numpy as np
        import pandas as pd

        held = None
        for pdf in it:
            if held is not None:
                pdf = pd.concat([held, pdf], ignore_index=True)
                held = None
            if not len(pdf):
                continue
            starts = _group_starts(pdf, keys)
            last0 = int(starts[-1])
            # the trailing group may continue in the next chunk —
            # hold it back (it is re-prepended above)
            held = pdf.iloc[last0:].reset_index(drop=True)
            if last0:
                work = pdf.iloc[:last0].reset_index(drop=True)
                out = _match_chunk(
                    work, spec, starts[: len(starts) - 1]
                )
                if out is not None:
                    yield out
        if held is not None and len(held):
            out = _match_chunk(held, spec, np.array([0]))
            if out is not None:
                yield out

    # explicit REPARTITION_BY_NUM on the keys: AQE's byte-based
    # coalescing sees tiny shuffle partitions and would collapse the
    # matcher onto 1-2 tasks, serializing the python-side match loop;
    # a user-numbered repartition is exempt from coalescing and the
    # sortWithinPartitions reuses its clustering — no second exchange
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(par, *keys)
        .sortWithinPartitions(*sort_cols)
        .mapInPandas(run, output_schema)
    )


def infer_output_schema(spec: MatchSpec, df: DataFrame) -> str:
    """Output DDL: ONE ROW PER MATCH keeps the partition columns; ALL
    ROWS PER MATCH keeps EVERY input column (the SQL/RPR row-per-row
    shape). Measures infer from the raw expression — COUNT → BIGINT,
    AVG → DOUBLE, FIRST/LAST/MIN/MAX/SUM(V.col) → the column's type
    (SUM over integers widens to BIGINT)."""
    src = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    base = (
        [f.name for f in df.schema.fields]
        if spec.all_rows
        else spec.partition_by
    )
    clash = set(n for _, n in spec.raw_measures) & set(base)
    if clash:
        raise ValueError(
            f"MATCH_RECOGNIZE: measure names collide with input"
            f" columns: {sorted(clash)}"
        )
    parts = [f"{c} {src[c]}" for c in base]
    for raw, name in spec.raw_measures:
        form = _measure_form(raw)
        if form is None:
            # outside the tier grammar (say LAST(A.v) - FIRST(B.v)):
            # the NFA evaluates it, typed by its first call's column
            m = re.match(
                rf"{_FUN}\s*\(\s*(?:(\w+)\.)?(\w+|\*)", raw, re.IGNORECASE
            )
            if not m:
                raise ValueError(
                    f"MATCH_RECOGNIZE: cannot infer type of {raw!r}"
                )
            form = (m.group(1).upper(), m.group(2), m.group(3))
        fn, _var, col = form
        if fn == "CLASSIFIER":
            t = "string"
        elif fn == "MATCH_ROWTIME":
            t = src[spec.order_by[0]]  # the event-time attribute
        else:  # COUNT and AVG read no column type
            t = _agg_type(
                fn, None if fn in ("COUNT", "AVG") else src[col]
            )
        parts.append(f"{name} {t}")
    return ", ".join(parts)


# --------------------------------------------------------------------------
# q45 — MATCH_RECOGNIZE rising-streak detection, oracle-gated.
# --------------------------------------------------------------------------

Q45_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    FIRST(STRT.event_id) AS start_id,
    LAST(UP.event_id) AS end_id,
    COUNT(UP.*) AS n_up,
    LAST(UP.value) AS peak
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (STRT UP+)
  DEFINE UP AS UP.value > PREV(UP.value)
"""


def q45_match_recognize(spark, sf_dir: str) -> DataFrame:
    """Flink SQL MATCH_RECOGNIZE (docs: queries/match_recognize) —
    rising value streaks per user: the standard Ticker example's
    shape with the greedy `STRT UP+` pattern. Greedy + SKIP PAST LAST
    ROW makes matches exactly the maximal strictly-increasing runs,
    which the DuckDB oracle replays as gaps-and-islands — an
    independent formulation of the same semantics, so the hash gate
    checks the matcher, not a transliteration of it."""
    from flink_streaming_platform_web_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    spec = parse_match_recognize(Q45_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q45 = """
WITH ordered AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER w AS rn,
         CASE WHEN value > LAG(value) OVER w THEN 0 ELSE 1 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
isl AS (
  SELECT *, SUM(brk) OVER (
      PARTITION BY user_id ORDER BY rn) AS island
  FROM ordered
)
SELECT user_id, start_id, end_id, n_up, peak FROM (
  SELECT user_id,
         FIRST(event_id ORDER BY rn) AS start_id,
         LAST(event_id ORDER BY rn) AS end_id,
         CAST(COUNT(*) - 1 AS BIGINT) AS n_up,
         LAST(value ORDER BY rn) AS peak
  FROM isl GROUP BY user_id, island
) WHERE n_up >= 1
"""

# --------------------------------------------------------------------------
# q47 — pattern ALTERNATION (A|B), oracle-gated (round 6).
# --------------------------------------------------------------------------

Q47_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    FIRST(STRT.event_id) AS start_id,
    FIRST(STRT.value) AS start_val,
    COUNT(UPP.*) AS n_up,
    COUNT(DWN.*) AS n_dn,
    SUM(UPP.value) AS up_val,
    SUM(DWN.value) AS dn_val
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (STRT (UPP|DWN))
  DEFINE UPP AS UPP.value > PREV(UPP.value),
         DWN AS DWN.value < PREV(DWN.value)
"""


def q47_match_alternation(spark, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE pattern alternation (Flink docs:
    queries/match_recognize §Defining a Pattern — `(A|B)` ordered
    choice): non-overlapping consecutive pairs where the second event
    moved strictly up (UPP) or strictly down (DWN) from the first.
    COUNT/SUM per alternative expose WHICH branch matched — the
    per-variable row assignment under alternation. The DuckDB oracle
    is an independent formulation: the greedy left-to-right pair scan
    consumes rows in runs of 'pairable' positions, so matches are
    exactly the odd offsets within each run (islands + parity), never
    a transliteration of the matcher."""
    from flink_streaming_platform_web_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    spec = parse_match_recognize(Q47_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q47 = """
WITH ordered AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER w AS rn,
         LEAD(value) OVER w AS nxt_v
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
p AS (
  SELECT * FROM ordered
  WHERE nxt_v IS NOT NULL AND nxt_v <> value
),
runs AS (
  SELECT *, rn - ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY rn) AS grp
  FROM p
)
SELECT user_id,
       event_id AS start_id,
       value AS start_val,
       CAST(CASE WHEN nxt_v > value THEN 1 ELSE 0 END AS BIGINT)
         AS n_up,
       CAST(CASE WHEN nxt_v < value THEN 1 ELSE 0 END AS BIGINT)
         AS n_dn,
       CASE WHEN nxt_v > value THEN nxt_v END AS up_val,
       CASE WHEN nxt_v < value THEN nxt_v END AS dn_val
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id, grp ORDER BY rn) AS pos
  FROM runs
) WHERE pos % 2 = 1
"""


# --------------------------------------------------------------------------
# q48 — ALL ROWS PER MATCH with running measures, oracle-gated (round 6).
# --------------------------------------------------------------------------

Q48_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts_s, event_id
  MEASURES
    COUNT(*) AS step_no,
    FIRST(STRT.value) AS base_val,
    LAST(UP.value) AS run_val
  ALL ROWS PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (STRT UP+)
  DEFINE UP AS UP.value > PREV(UP.value)
"""


def q48_match_all_rows(spark, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE ALL ROWS PER MATCH (Flink docs:
    queries/match_recognize §Output Mode): every row of each rising
    streak is emitted with RUNNING measures — step_no counts rows so
    far, base_val pins the streak's first value, run_val is the
    running LAST(UP.value) (NULL on the STRT row, where UP has
    matched nothing yet). Timestamps cross the engine boundary as the
    µs-string carrier so the lexicographic ORDER BY is chronological
    on both engines; the oracle replays the same streaks as
    gaps-and-islands with per-island window functions."""
    from flink_streaming_platform_web_spark.operators._portable import (
        ts_str,
    )
    from flink_streaming_platform_web_spark.tables import load
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        ts_str(F.col("ts")).alias("ts_s"),
        "value",
    )
    spec = parse_match_recognize(Q48_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q48 = """
WITH ordered AS (
  SELECT user_id, event_id, value,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
         ROW_NUMBER() OVER w AS rn,
         CASE WHEN value > LAG(value) OVER w THEN 0 ELSE 1 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
isl AS (
  SELECT *, SUM(brk) OVER (
      PARTITION BY user_id ORDER BY rn) AS island
  FROM ordered
),
sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY user_id, island) AS isl_n
  FROM isl
)
SELECT user_id, event_id, ts_s, value,
       CAST(ROW_NUMBER() OVER wi AS BIGINT) AS step_no,
       FIRST_VALUE(value) OVER wi AS base_val,
       CASE WHEN ROW_NUMBER() OVER wi > 1 THEN value END AS run_val
FROM sized WHERE isl_n >= 2
WINDOW wi AS (PARTITION BY user_id, island ORDER BY rn)
"""

# --------------------------------------------------------------------------
# q49 — bounded quantifier {n} + CLASSIFIER(), oracle-gated (round 6).
# --------------------------------------------------------------------------

Q49_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    FIRST(STRT.event_id) AS start_id,
    LAST(UP.event_id) AS end_id,
    LAST(UP.value) AS end_val,
    CLASSIFIER() AS last_var
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (STRT UP{2})
  DEFINE UP AS UP.value > PREV(UP.value)
"""


def q49_match_bounded_quant(spark, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE bounded quantifier (Flink docs:
    match_recognize §Quantifiers — `UP{2}`: exactly two rising steps
    per match) + CLASSIFIER(). With SKIP PAST LAST ROW, the greedy
    scan consumes three rows per match inside each maximal rising
    run, so matches sit at run offsets 0, 3, 6, … while two more
    rising rows remain — which the DuckDB oracle replays as
    gaps-and-islands plus offset arithmetic (a self-join on island
    position, independent of the matcher). CLASSIFIER() is the last
    matched variable — always UP here, gating the classifier
    plumbing end to end."""
    from flink_streaming_platform_web_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    spec = parse_match_recognize(Q49_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q49 = """
WITH ordered AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER w AS rn,
         CASE WHEN value > LAG(value) OVER w THEN 0 ELSE 1 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
isl AS (
  SELECT *, SUM(brk) OVER (
      PARTITION BY user_id ORDER BY rn) AS island
  FROM ordered
),
pos AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id, island ORDER BY rn) - 1 AS off
  FROM isl
)
SELECT s.user_id,
       s.event_id AS start_id,
       e.event_id AS end_id,
       e.value AS end_val,
       'UP' AS last_var
FROM pos s JOIN pos e
  ON e.user_id = s.user_id AND e.island = s.island
 AND e.off = s.off + 2
WHERE s.off % 3 = 0
"""

# --------------------------------------------------------------------------
# q50 — PERMUTE(...), oracle-gated (round 8). SKIP TO NEXT ROW keeps
# matches consumption-free, so the oracle is a pure 3-row LEAD window
# — no sequential replay needed.
# --------------------------------------------------------------------------

Q50_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    FIRST(HI.event_id) AS hi_id,
    FIRST(MID.event_id) AS mid_id,
    FIRST(LO.event_id) AS lo_id,
    CLASSIFIER() AS last_var
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (PERMUTE(HI, MID, LO))
  DEFINE HI AS HI.value >= 55.0,
         MID AS MID.value >= 20.0 AND MID.value < 55.0,
         LO AS LO.value < 20.0
"""


def q50_match_permute(spark, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE PERMUTE (Flink docs: queries/match_recognize
    §PERMUTE — reference surface via Flink 1.13, pom.xml:41):
    ``PERMUTE(HI, MID, LO)`` expands to the alternation of all six
    orderings, so a match is any three consecutive rows covering all
    three disjoint value bands in ANY order. The per-variable FIRST
    measures pin the BINDING (which row each variable captured) and
    CLASSIFIER() the last-matched variable — both vary by
    permutation, gating the expansion end to end. SKIP TO NEXT ROW
    makes matches overlap-free of consumption, which is what lets
    the DuckDB oracle check each row's 3-row window independently."""
    from flink_streaming_platform_web_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    spec = parse_match_recognize(Q50_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q50 = """
WITH ordered AS (
  SELECT user_id, event_id,
         CASE WHEN value >= 55.0 THEN 2
              WHEN value >= 20.0 THEN 1 ELSE 0 END AS cls,
         ROW_NUMBER() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
win AS (
  SELECT user_id,
         event_id AS id0, cls AS c0,
         LEAD(event_id, 1) OVER w2 AS id1, LEAD(cls, 1) OVER w2 AS c1,
         LEAD(event_id, 2) OVER w2 AS id2, LEAD(cls, 2) OVER w2 AS c2
  FROM ordered
  WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
)
SELECT user_id,
       CASE WHEN c0 = 2 THEN id0 WHEN c1 = 2 THEN id1 ELSE id2 END
         AS hi_id,
       CASE WHEN c0 = 1 THEN id0 WHEN c1 = 1 THEN id1 ELSE id2 END
         AS mid_id,
       CASE WHEN c0 = 0 THEN id0 WHEN c1 = 0 THEN id1 ELSE id2 END
         AS lo_id,
       CASE c2 WHEN 2 THEN 'HI' WHEN 1 THEN 'MID' ELSE 'LO' END
         AS last_var
FROM win
WHERE c2 IS NOT NULL AND c0 <> c1 AND c0 <> c2 AND c1 <> c2
"""

# --------------------------------------------------------------------------
# q51 — nested quantified group, oracle-gated (round 8). The bounded
# {1,2} keeps the greedy repetition LEAD-expressible (prefer two
# pairs, fall back to one); SKIP TO NEXT ROW again removes
# consumption coupling.
# --------------------------------------------------------------------------

Q51_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    COUNT(*) AS n_rows,
    COUNT(HI.*) AS n_pairs,
    LAST(LO.event_id) AS end_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (STRT (HI LO){1,2})
  DEFINE HI AS HI.value >= 55.0,
         LO AS LO.value < 20.0
"""


def q51_match_nested_group(spark, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE nested quantified group (Flink docs:
    queries/match_recognize §Patterns — a group repeats as a UNIT):
    ``(HI LO){1,2}`` must consume whole high/low pairs, greedy two
    before one — element-wise repetition (the flat engine's only
    reading) would accept HI HI LO. COUNT(*) vs COUNT(HI.*)
    distinguishes one-pair from two-pair matches and LAST(LO...)
    pins which repetition closed the match."""
    from flink_streaming_platform_web_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    spec = parse_match_recognize(Q51_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q51 = """
WITH ordered AS (
  SELECT user_id, event_id,
         CASE WHEN value >= 55.0 THEN 'H'
              WHEN value < 20.0 THEN 'L' ELSE 'M' END AS cls,
         ROW_NUMBER() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
win AS (
  SELECT user_id,
         LEAD(cls, 1) OVER w2 AS c1, LEAD(cls, 2) OVER w2 AS c2,
         LEAD(cls, 3) OVER w2 AS c3, LEAD(cls, 4) OVER w2 AS c4,
         LEAD(event_id, 2) OVER w2 AS id2,
         LEAD(event_id, 4) OVER w2 AS id4
  FROM ordered
  WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
)
SELECT user_id,
       CAST(CASE WHEN c3 = 'H' AND c4 = 'L' THEN 5 ELSE 3 END
            AS BIGINT) AS n_rows,
       CAST(CASE WHEN c3 = 'H' AND c4 = 'L' THEN 2 ELSE 1 END
            AS BIGINT) AS n_pairs,
       CASE WHEN c3 = 'H' AND c4 = 'L' THEN id4 ELSE id2 END
         AS end_id
FROM win
WHERE c1 = 'H' AND c2 = 'L'
"""

# --------------------------------------------------------------------------
# q52 — PATTERN (...) WITHIN INTERVAL, oracle-gated (round 8). The
# 2-row pattern keeps consumption = 2, so the greedy scan is the q47
# islands+parity shape with the time bound folded into candidacy.
# --------------------------------------------------------------------------

Q52_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    FIRST(STRT.event_id) AS start_id,
    FIRST(UP.event_id) AS up_id,
    FIRST(UP.value) AS up_val
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (STRT UP) WITHIN INTERVAL '8' HOUR
  DEFINE UP AS UP.value > PREV(UP.value)
"""


def q52_match_within(spark, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE WITHIN (Flink docs: queries/match_recognize
    §Time constraint — the state-bounding clause CEP needs at scale):
    a rising step counts only when it completes within 8 hours of the
    match's first row. At sf0.01 the bound splits the up-step
    population roughly in half (2639 of 4914 qualify), so the gate
    exercises the constraint, not just the pattern. Consumption is
    two rows per match, so the DuckDB oracle replays the greedy scan
    as islands+parity with the time bound folded into the candidate
    predicate (selection rule cross-validated against a direct
    greedy-scan simulation)."""
    from flink_streaming_platform_web_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    spec = parse_match_recognize(Q52_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q52 = """
WITH ordered AS (
  SELECT user_id, event_id, value, ts,
         ROW_NUMBER() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
paired AS (
  SELECT user_id, event_id, value, rn,
         LEAD(event_id) OVER w2 AS nid,
         LEAD(value) OVER w2 AS nv,
         EXTRACT(EPOCH FROM LEAD(ts) OVER w2 - ts) AS gap_s
  FROM ordered
  WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
),
cand AS (
  SELECT * FROM paired WHERE nv > value AND gap_s <= 28800
),
runs AS (
  SELECT *, rn - ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY rn) AS grp
  FROM cand
)
SELECT user_id, event_id AS start_id, nid AS up_id, nv AS up_val
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id, grp ORDER BY rn) AS pos
  FROM runs
) WHERE pos % 2 = 1
"""

# --------------------------------------------------------------------------
# q53 — TOP-LEVEL alternation over sequences of DIFFERENT lengths,
# oracle-gated (round 8): (A B C | D) — the AST walker's ordered
# choice must prefer the 3-row left branch and fall to the 1-row
# right branch. Start conditions are disjoint (A needs value < 20,
# D needs >= 90), so the LEAD-window oracle is branch-exact; SKIP TO
# NEXT ROW keeps matches consumption-free.
# --------------------------------------------------------------------------

Q53_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    COUNT(*) AS n,
    CLASSIFIER() AS last_var,
    FIRST(A.event_id) AS a_id,
    FIRST(D.event_id) AS d_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (A B C | D)
  DEFINE A AS A.value < 20.0,
         B AS B.value >= 20.0 AND B.value < 55.0,
         C AS C.value >= 55.0,
         D AS D.value >= 90.0
"""


def q53_match_alternated_sequences(spark, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE top-level alternation of sequences (Flink
    docs: queries/match_recognize §Patterns): a rising low→mid→high
    3-row sweep, or a single extreme-high row — branches of
    DIFFERENT lengths, leftmost preferred. COUNT(*), CLASSIFIER()
    and the per-branch FIRST ids pin which branch matched and what
    it bound; NULLs in the off-branch measures cross the hash gate,
    pinning the null-measure path too."""
    from flink_streaming_platform_web_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    spec = parse_match_recognize(Q53_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q53 = """
WITH ordered AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
win AS (
  SELECT user_id, event_id, value,
         LEAD(value, 1) OVER w2 AS v1, LEAD(value, 2) OVER w2 AS v2
  FROM ordered WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
),
b1 AS (
  SELECT *, (value < 20.0 AND v1 >= 20.0 AND v1 < 55.0
             AND v2 >= 55.0) AS is_b1
  FROM win
)
SELECT user_id,
       CAST(CASE WHEN is_b1 THEN 3 ELSE 1 END AS BIGINT) AS n,
       CASE WHEN is_b1 THEN 'C' ELSE 'D' END AS last_var,
       CASE WHEN is_b1 THEN event_id END AS a_id,
       CASE WHEN NOT is_b1 THEN event_id END AS d_id
FROM b1
WHERE is_b1 OR value >= 90.0
"""

# --------------------------------------------------------------------------
# q54 — DESC secondary ORDER BY (round 8). Flink's MATCH_RECOGNIZE
# pins only the FIRST ordering column to ascending (the event-time
# attribute); secondary columns may sort DESC (docs:
# queries/match_recognize §Order of Events). Ordering by the DAY
# bucket (avg ~2.5 rows per (user, day) in the events table) makes
# the event_id DESC tie order load-bearing: which row FOLLOWS which
# inside a day flips versus ASC, so the LO→HI adjacency pairs — and
# the oracle hash — differ.
# --------------------------------------------------------------------------

Q54_CLAUSE = """
  PARTITION BY user_id
  ORDER BY d, event_id DESC
  MEASURES
    FIRST(LO.event_id) AS lo_id,
    FIRST(HI.event_id) AS hi_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (LO HI)
  DEFINE LO AS LO.value < 30.0,
         HI AS HI.value >= 60.0
"""


def q54_match_desc_tie_order(spark, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE with a DESC secondary ORDER BY column: rows
    scan day-ascending but event_id-DESCENDING within a day, and a
    match is a low row immediately followed (in that order) by a
    high row. SKIP TO NEXT ROW keeps every adjacency independently
    checkable, so the oracle is a pure LEAD window over the same
    (day ASC, event_id DESC) ordering."""
    from pyspark.sql import functions as F

    from flink_streaming_platform_web_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.date_trunc("day", F.col("ts")).alias("d"),
    )
    spec = parse_match_recognize(Q54_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q54 = """
WITH ordered AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id
               ORDER BY date_trunc('day', ts), event_id DESC)
),
win AS (
  SELECT user_id, event_id AS lo_id, value,
         LEAD(event_id) OVER w2 AS hi_id,
         LEAD(value) OVER w2 AS v1
  FROM ordered WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
)
SELECT user_id, lo_id, hi_id
FROM win
WHERE value < 30.0 AND v1 >= 60.0
"""


# --------------------------------------------------------------------------
# q55 — PERMUTE at width 6 (round 8, late): past the old eager-
# expansion cap (5), possible only because the walker enumerates
# orderings lazily. Six disjoint value bands (integer sextile edges
# of the events.value distribution: 9/21/35/55/88) must appear in
# six consecutive rows in ANY order; SKIP TO NEXT ROW keeps every
# 6-row window independently checkable, so the oracle is a pure
# 6-step LEAD window. The V0/V5 binding measures + CLASSIFIER()
# gate which row each band captured and the ordering's last step.
# --------------------------------------------------------------------------

Q55_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    FIRST(V0.event_id) AS lo_id,
    FIRST(V5.event_id) AS top_id,
    CLASSIFIER() AS last_var
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (PERMUTE(V0, V1, V2, V3, V4, V5))
  DEFINE V0 AS V0.value < 9.0,
         V1 AS V1.value >= 9.0 AND V1.value < 21.0,
         V2 AS V2.value >= 21.0 AND V2.value < 35.0,
         V3 AS V3.value >= 35.0 AND V3.value < 55.0,
         V4 AS V4.value >= 55.0 AND V4.value < 88.0,
         V5 AS V5.value >= 88.0
"""


def q55_match_permute_wide(spark, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE PERMUTE at width 6 — 720 orderings, walked
    lazily (Flink docs queries/match_recognize §PERMUTE; the eager
    k!-branch expansion would have refused this width). A match is
    six consecutive rows covering all six disjoint value bands in
    any order."""
    from flink_streaming_platform_web_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    spec = parse_match_recognize(Q55_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q55 = """
WITH ordered AS (
  SELECT user_id, event_id,
         (CASE WHEN value >= 9.0 THEN 1 ELSE 0 END
        + CASE WHEN value >= 21.0 THEN 1 ELSE 0 END
        + CASE WHEN value >= 35.0 THEN 1 ELSE 0 END
        + CASE WHEN value >= 55.0 THEN 1 ELSE 0 END
        + CASE WHEN value >= 88.0 THEN 1 ELSE 0 END) AS cls,
         ROW_NUMBER() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
win AS (
  SELECT user_id,
         event_id AS id0, cls AS c0,
         LEAD(event_id, 1) OVER w2 AS id1, LEAD(cls, 1) OVER w2 AS c1,
         LEAD(event_id, 2) OVER w2 AS id2, LEAD(cls, 2) OVER w2 AS c2,
         LEAD(event_id, 3) OVER w2 AS id3, LEAD(cls, 3) OVER w2 AS c3,
         LEAD(event_id, 4) OVER w2 AS id4, LEAD(cls, 4) OVER w2 AS c4,
         LEAD(event_id, 5) OVER w2 AS id5, LEAD(cls, 5) OVER w2 AS c5
  FROM ordered
  WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
)
SELECT user_id,
       CASE WHEN c0 = 0 THEN id0 WHEN c1 = 0 THEN id1
            WHEN c2 = 0 THEN id2 WHEN c3 = 0 THEN id3
            WHEN c4 = 0 THEN id4 ELSE id5 END AS lo_id,
       CASE WHEN c0 = 5 THEN id0 WHEN c1 = 5 THEN id1
            WHEN c2 = 5 THEN id2 WHEN c3 = 5 THEN id3
            WHEN c4 = 5 THEN id4 ELSE id5 END AS top_id,
       'V' || CAST(c5 AS VARCHAR) AS last_var
FROM win
WHERE c5 IS NOT NULL
  AND c0 + c1 + c2 + c3 + c4 + c5 = 15
  AND c0 <> c1 AND c0 <> c2 AND c0 <> c3 AND c0 <> c4 AND c0 <> c5
  AND c1 <> c2 AND c1 <> c3 AND c1 <> c4 AND c1 <> c5
  AND c2 <> c3 AND c2 <> c4 AND c2 <> c5
  AND c3 <> c4 AND c3 <> c5 AND c4 <> c5
"""


# --------------------------------------------------------------------------
# q56 — RUNNING/FINAL measure semantics (round 8, late; Flink docs:
# queries/match_recognize §RUNNING and FINAL): q48's all-rows streak
# shape with an explicit RUNNING count next to FINAL aggregates, so
# every output row carries both the rows-so-far view and the
# complete-match view. The oracle replays FINAL as full-island
# window aggregates next to q48's running ones.
# --------------------------------------------------------------------------

Q56_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts_s, event_id
  MEASURES
    RUNNING COUNT(*) AS step_no,
    FINAL COUNT(*) AS match_len,
    FINAL LAST(UP.value) AS peak_val
  ALL ROWS PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (STRT UP+)
  DEFINE UP AS UP.value > PREV(UP.value)
"""


def q56_match_running_final(spark, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE explicit RUNNING/FINAL measures in ALL ROWS
    PER MATCH: ``RUNNING COUNT(*)`` counts rows so far while ``FINAL
    COUNT(*)`` / ``FINAL LAST(UP.value)`` are constant per match —
    the complete-match length and peak stamped onto every row. Same
    µs-string timestamp carrier as q48."""
    from flink_streaming_platform_web_spark.operators._portable import (
        ts_str,
    )
    from flink_streaming_platform_web_spark.tables import load
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        ts_str(F.col("ts")).alias("ts_s"),
        "value",
    )
    spec = parse_match_recognize(Q56_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q56 = """
WITH ordered AS (
  SELECT user_id, event_id, value,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
         ROW_NUMBER() OVER w AS rn,
         CASE WHEN value > LAG(value) OVER w THEN 0 ELSE 1 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
isl AS (
  SELECT *, SUM(brk) OVER (
      PARTITION BY user_id ORDER BY rn) AS island
  FROM ordered
),
sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY user_id, island) AS isl_n
  FROM isl
)
SELECT user_id, event_id, ts_s, value,
       CAST(ROW_NUMBER() OVER wi AS BIGINT) AS step_no,
       CAST(isl_n AS BIGINT) AS match_len,
       LAST_VALUE(value) OVER (
         PARTITION BY user_id, island ORDER BY rn
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS peak_val
FROM sized WHERE isl_n >= 2
WINDOW wi AS (PARTITION BY user_id, island ORDER BY rn)
"""


# --------------------------------------------------------------------------
# q57 — MATCH_ROWTIME() (round 8, late; Flink docs:
# queries/match_recognize §Time attributes): the event-time
# attribute of the match's last row, the handle Flink gives for
# chaining windowing onto match results. Ordered by the µs-string
# carrier, so the measure crosses the hash gate as the same string
# DuckDB's LEAD produces.
# --------------------------------------------------------------------------

Q57_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts_s, event_id
  MEASURES
    FIRST(LO.event_id) AS lo_id,
    MATCH_ROWTIME() AS mr
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (LO HI)
  DEFINE LO AS LO.value < 30.0,
         HI AS HI.value >= 60.0
"""


def q57_match_rowtime(spark, sf_dir: str) -> DataFrame:
    """MATCH_ROWTIME() in MEASURES: each low→high adjacency reports
    the event time of its LAST matched row (the HI row) — in ONE ROW
    PER MATCH mode that is the match's rowtime, the value Flink
    exposes for downstream event-time windowing over matches."""
    from flink_streaming_platform_web_spark.operators._portable import (
        ts_str,
    )
    from flink_streaming_platform_web_spark.tables import load
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        ts_str(F.col("ts")).alias("ts_s"),
        "value",
    )
    spec = parse_match_recognize(Q57_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q57 = """
WITH ordered AS (
  SELECT user_id, event_id, value,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
         ROW_NUMBER() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
win AS (
  SELECT user_id, event_id AS lo_id, value,
         LEAD(value) OVER w2 AS v1,
         LEAD(ts_s) OVER w2 AS mr
  FROM ordered WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
)
SELECT user_id, lo_id, mr
FROM win
WHERE value < 30.0 AND v1 >= 60.0
"""


# --------------------------------------------------------------------------
# q60 — GLOBAL pattern (no PARTITION BY), oracle-gated (round 10).
# Flink 1.13 allows MATCH_RECOGNIZE without PARTITION BY (docs:
# queries/match_recognize — the pattern then runs at parallelism 1);
# the engine routes it through a constant grouping key, which is the
# same single-task semantics. The totally-ordered 2-row adjacency
# across ALL users is what a per-user partition could never see.
# --------------------------------------------------------------------------

Q60_CLAUSE = """
  ORDER BY ts, event_id
  MEASURES
    FIRST(LO.event_id) AS lo_id,
    FIRST(HI.event_id) AS hi_id,
    FIRST(HI.value) AS hi_val
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (LO HI)
  DEFINE LO AS LO.value < 20.0,
         HI AS HI.value >= 80.0
"""


def q60_match_global(spark, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE with NO PARTITION BY — a global pattern over
    the total (ts, event_id) order of the whole events table: a
    sub-20 row immediately followed by an 80+ row, across user
    boundaries. Parallelism-1 by semantics (Flink's own behavior);
    the constant-key route still compiles to the JVM fixed-length
    tier, so the plan is one single-partition sort + codegen
    projection, zero Python."""
    from flink_streaming_platform_web_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    spec = parse_match_recognize(Q60_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q60 = """
WITH ordered AS (
  SELECT event_id, value,
         LEAD(event_id) OVER w AS nid,
         LEAD(value) OVER w AS nv
  FROM events
  WINDOW w AS (ORDER BY ts, event_id)
)
SELECT event_id AS lo_id, nid AS hi_id, nv AS hi_val
FROM ordered
WHERE value < 20.0 AND nv >= 80.0
"""


# --------------------------------------------------------------------------
# q61 — AFTER MATCH SKIP TO LAST <var>, oracle-gated (round 10).
# Flink 1.13 queries/match_recognize §After Match Strategy: resume
# the scan AT the named variable's last matched row, so consecutive
# matches SHARE that row — the Ticker doc's strategy for chaining
# V-shapes. Here: rising 2-step segments chained end-to-start.
# --------------------------------------------------------------------------

Q61_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    FIRST(STRT.event_id) AS start_id,
    LAST(TOP.event_id) AS top_id,
    LAST(TOP.value) AS top_val,
    CLASSIFIER() AS last_var
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO LAST TOP
  PATTERN (STRT UP TOP)
  DEFINE UP AS UP.value > PREV(UP.value),
         TOP AS TOP.value > PREV(TOP.value)
"""


def q61_match_skip_to_var(spark, sf_dir: str) -> DataFrame:
    """``AFTER MATCH SKIP TO LAST TOP`` (Flink docs:
    queries/match_recognize §After Match Strategy): each match is a
    two-step rise and the next scan resumes AT the TOP row, so a
    long rising run decomposes into chained segments sharing their
    endpoints (run offsets 0-2, 2-4, 4-6, …) — semantics neither
    SKIP TO NEXT ROW (every offset) nor SKIP PAST LAST ROW (offsets
    0-2, 3-5) produce. Compiles to the JVM islands tier with
    stride = TOP's offset (2); the DuckDB oracle replays the same
    gaps-and-islands walk independently."""
    from flink_streaming_platform_web_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    spec = parse_match_recognize(Q61_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q61 = """
WITH ordered AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER w AS rn,
         CASE WHEN value > LAG(value) OVER w THEN 0 ELSE 1 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
isl AS (
  SELECT *, SUM(brk) OVER (
      PARTITION BY user_id ORDER BY rn) AS island
  FROM ordered
),
pos AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id, island ORDER BY rn) - 1 AS off
  FROM isl
)
SELECT s.user_id,
       s.event_id AS start_id,
       e.event_id AS top_id,
       e.value AS top_val,
       'TOP' AS last_var
FROM pos s JOIN pos e
  ON e.user_id = s.user_id AND e.island = s.island
 AND e.off = s.off + 2
WHERE s.off % 2 = 0
"""


# --------------------------------------------------------------------------
# q62 — ALL ROWS PER MATCH under an OVERLAPPING strategy (round 10,
# late). Flink emits every matched row of every match; with SKIP TO
# NEXT ROW a row can belong to several matches and is emitted once
# PER MATCH with that match's RUNNING measures — a true multiset
# result (the driver's value hash is multiset-exact). The DuckDB
# oracle replays it as a union of per-offset projections over the
# adjacency predicate.
# --------------------------------------------------------------------------

Q62_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    COUNT(*) AS n_sofar,
    FIRST(A.value) AS a_val
  ALL ROWS PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (A B)
  DEFINE A AS A.value < 40.0,
         B AS B.value > PREV(B.value)
"""


def q62_match_all_rows_overlap(spark, sf_dir: str) -> DataFrame:
    """ALL ROWS PER MATCH × SKIP TO NEXT ROW: every sub-40 row
    followed by a rise emits BOTH rows, and a row that is the B of
    one match and the A of the next appears twice with different
    RUNNING measures — the multiset semantics Flink documents for
    all-rows mode under overlapping strategies. Output = input
    columns + measures (all-rows mode passes the row through)."""
    from flink_streaming_platform_web_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    spec = parse_match_recognize(Q62_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q62 = """
WITH ordered AS (
  SELECT user_id, event_id, ts, value,
         LAG(value) OVER w AS pv,
         LAG(event_id) OVER w AS p_id,
         LAG(ts) OVER w AS p_ts,
         LEAD(value) OVER w AS nv
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, ts, value,
       CAST(1 AS BIGINT) AS n_sofar, value AS a_val
FROM ordered
WHERE value < 40.0 AND nv > value
UNION ALL
SELECT user_id, event_id, ts, value,
       CAST(2 AS BIGINT) AS n_sofar, pv AS a_val
FROM ordered
WHERE pv < 40.0 AND value > pv
"""


# --------------------------------------------------------------------------
# q63 — band-disjoint PERMUTE under a WITHIN time bound (round 12):
# width 5 (120 orderings — past tier A′'s 24-expansion cap, so the
# query MUST route through tier P) with the match's elapsed time
# bounded. Exercises tier P's WITHIN conjunct through the driver
# gate (q55 covers the unbounded tier-P shape, q52 the WITHIN of the
# islands tier; their combination had no gate entry). The 48-hour
# bound splits the permutation population meaningfully at sf0.01
# (197 of 325 windows qualify).
# --------------------------------------------------------------------------

Q63_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    FIRST(V0.event_id) AS lo_id,
    FIRST(V4.event_id) AS hi_id,
    CLASSIFIER() AS last_var
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (PERMUTE(V0, V1, V2, V3, V4)) WITHIN INTERVAL '48' HOUR
  DEFINE V0 AS V0.value < 9.0,
         V1 AS V1.value >= 9.0 AND V1.value < 30.0,
         V2 AS V2.value >= 30.0 AND V2.value < 55.0,
         V3 AS V3.value >= 55.0 AND V3.value < 82.0,
         V4 AS V4.value >= 82.0
"""


def q63_match_permute_within(spark, sf_dir: str) -> DataFrame:
    """PERMUTE(5 disjoint quintile bands) WITHIN 48 hours (Flink docs
    queries/match_recognize §PERMUTE + §Time constraint): a window of
    five consecutive events matches when every quintile band appears
    exactly once AND the fifth event lands within 48 hours of the
    first. Width 5 = 120 orderings — only the band-disjoint tier-P
    compilation (classification + mask + the WITHIN conjunct on the
    (first, last) LEAD pair) runs it without the NFA's factorial
    search; the DuckDB oracle replays classification + the
    distinctness mask + the epoch-difference bound."""
    from flink_streaming_platform_web_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    spec = parse_match_recognize(Q63_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q63 = """
WITH ordered AS (
  SELECT user_id, event_id, ts,
         (CASE WHEN value >= 9.0 THEN 1 ELSE 0 END
        + CASE WHEN value >= 30.0 THEN 1 ELSE 0 END
        + CASE WHEN value >= 55.0 THEN 1 ELSE 0 END
        + CASE WHEN value >= 82.0 THEN 1 ELSE 0 END) AS cls,
         ROW_NUMBER() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
win AS (
  SELECT user_id, ts AS t0,
         event_id AS id0, cls AS c0,
         LEAD(event_id, 1) OVER w2 AS id1, LEAD(cls, 1) OVER w2 AS c1,
         LEAD(event_id, 2) OVER w2 AS id2, LEAD(cls, 2) OVER w2 AS c2,
         LEAD(event_id, 3) OVER w2 AS id3, LEAD(cls, 3) OVER w2 AS c3,
         LEAD(event_id, 4) OVER w2 AS id4, LEAD(cls, 4) OVER w2 AS c4,
         LEAD(ts, 4) OVER w2 AS t4
  FROM ordered
  WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
)
SELECT user_id,
       CASE WHEN c0 = 0 THEN id0 WHEN c1 = 0 THEN id1
            WHEN c2 = 0 THEN id2 WHEN c3 = 0 THEN id3
            ELSE id4 END AS lo_id,
       CASE WHEN c0 = 4 THEN id0 WHEN c1 = 4 THEN id1
            WHEN c2 = 4 THEN id2 WHEN c3 = 4 THEN id3
            ELSE id4 END AS hi_id,
       'V' || CAST(c4 AS VARCHAR) AS last_var
FROM win
WHERE c4 IS NOT NULL
  AND c0 + c1 + c2 + c3 + c4 = 10
  AND c0 <> c1 AND c0 <> c2 AND c0 <> c3 AND c0 <> c4
  AND c1 <> c2 AND c1 <> c3 AND c1 <> c4
  AND c2 <> c3 AND c2 <> c4 AND c3 <> c4
  AND EXTRACT(EPOCH FROM t4 - t0) <= 172800
"""


# --------------------------------------------------------------------------
# q64 — WITHIN under AFTER MATCH SKIP TO NEXT ROW (round 13): the
# fixed-length tier-A route's time bound had no oracle gate (q52
# covers WITHIN on the islands/PAST-LAST tier, q63 on tier P; the
# tier-A conjunct — including r13's native timestamp compare — was
# pinned only by unit tests). A 3-row rising run bounded to 24 hours:
# skip-to-next makes matches independent per start row, so the
# DuckDB oracle is the plain LEAD window with the epoch bound.
# --------------------------------------------------------------------------

Q64_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    FIRST(A.event_id) AS a_id,
    LAST(C.event_id) AS c_id,
    LAST(C.value) AS c_val
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (A B C) WITHIN INTERVAL '24' HOUR
  DEFINE B AS B.value > PREV(B.value),
         C AS C.value > PREV(C.value)
"""


def q64_match_within_next(spark, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE WITHIN under SKIP TO NEXT ROW (Flink docs:
    queries/match_recognize §Time constraint + §After Match
    Strategy): every row anchors an independent 3-row strictly-rising
    attempt that counts only when the third row lands within 24 hours
    of the first (1085 of 1605 rising runs qualify at sf0.01, so the
    gate exercises the constraint, not just the pattern). Compiles to JVM tier A — one keyed exchange, the
    memoized LEAD prelude, and the native-timestamp WITHIN conjunct
    (l > f + INTERVAL) in a codegen filter; the oracle replays the
    same navigation with EXTRACT(EPOCH ...)."""
    from flink_streaming_platform_web_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    spec = parse_match_recognize(Q64_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q64 = """
WITH ordered AS (
  SELECT user_id, event_id, ts, value,
         ROW_NUMBER() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
nav AS (
  SELECT user_id, event_id, ts, value,
         LEAD(value, 1) OVER w2 AS v1,
         LEAD(value, 2) OVER w2 AS v2,
         LEAD(event_id, 2) OVER w2 AS id2,
         LEAD(ts, 2) OVER w2 AS ts2
  FROM ordered
  WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
)
SELECT user_id, event_id AS a_id, id2 AS c_id, v2 AS c_val
FROM nav
WHERE v1 > value AND v2 > v1 AND id2 IS NOT NULL
  AND EXTRACT(EPOCH FROM ts2 - ts) <= 86400
"""


# --------------------------------------------------------------------------
# q65 — WITHIN through tier A′ (round 14): the bounded-alternation
# tier folds the time bound PER EXPANSION on each length's
# (first, last) offset pair (match_recognize_tier_bounded,
# `wb = _within_bound(df, spec, lead, k)` inside the expansion
# loop) — q52/q63/q64 gate WITHIN on the islands/P/A tiers, but no
# entry exercised the per-expansion fold where DIFFERENT branch
# lengths carry DIFFERENT last-row offsets (VERDICT r13 item 8). A
# 3-row low→mid→high sweep OR a 2-row extreme-high→crash pair, both
# bounded to 12 hours: at sf0.01 the bound rejects 217 of 329
# 3-row candidates and 104 of 295 2-row candidates, so BOTH
# branches' time conjuncts are load-bearing. Start conditions are
# disjoint (A < 20, D >= 90), so the LEAD-window oracle is
# branch-exact; SKIP TO NEXT ROW keeps matches consumption-free.
# --------------------------------------------------------------------------

Q65_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    COUNT(*) AS n,
    CLASSIFIER() AS last_var,
    FIRST(A.event_id) AS a_id,
    FIRST(D.event_id) AS d_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (A B C | D E) WITHIN INTERVAL '12' HOUR
  DEFINE A AS A.value < 20.0,
         B AS B.value >= 20.0 AND B.value < 55.0,
         C AS C.value >= 55.0,
         D AS D.value >= 90.0,
         E AS E.value < 10.0
"""


def q65_match_within_alternation(spark, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE WITHIN over a top-level alternation of
    sequences of DIFFERENT lengths (Flink docs:
    queries/match_recognize §Time constraint + §Patterns): compiles
    to JVM tier A′, whose ordered CASE folds the native-timestamp
    WITHIN conjunct per expansion — the 3-row branch bounds
    LEAD(ts, 2) against ts, the 2-row branch LEAD(ts, 1) — in one
    keyed exchange with zero Python. COUNT(*)/CLASSIFIER() pin which
    branch matched; the off-branch FIRST ids cross the hash gate as
    typed NULLs."""
    from flink_streaming_platform_web_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    spec = parse_match_recognize(Q65_CLAUSE)
    return match_recognize(ev, spec, infer_output_schema(spec, ev))


ORACLE_Q65 = """
WITH ordered AS (
  SELECT user_id, event_id, ts, value,
         ROW_NUMBER() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
nav AS (
  SELECT user_id, event_id, ts, value,
         LEAD(value, 1) OVER w2 AS v1, LEAD(value, 2) OVER w2 AS v2,
         LEAD(ts, 1) OVER w2 AS t1, LEAD(ts, 2) OVER w2 AS t2,
         LEAD(event_id, 1) OVER w2 AS id1,
         LEAD(event_id, 2) OVER w2 AS id2
  FROM ordered
  WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
),
b AS (
  SELECT *,
         (value < 20.0 AND v1 >= 20.0 AND v1 < 55.0 AND v2 >= 55.0
          AND id2 IS NOT NULL
          AND EXTRACT(EPOCH FROM t2 - ts) <= 43200) AS is_b1,
         (value >= 90.0 AND v1 < 10.0 AND id1 IS NOT NULL
          AND EXTRACT(EPOCH FROM t1 - ts) <= 43200) AS is_b2
  FROM nav
)
SELECT user_id,
       CAST(CASE WHEN is_b1 THEN 3 ELSE 2 END AS BIGINT) AS n,
       CASE WHEN is_b1 THEN 'C' ELSE 'E' END AS last_var,
       CASE WHEN is_b1 THEN event_id END AS a_id,
       CASE WHEN NOT is_b1 THEN event_id END AS d_id
FROM b
WHERE is_b1 OR is_b2
"""


QUERIES = {
    "q45_match_recognize": q45_match_recognize,
    "q47_match_alternation": q47_match_alternation,
    "q48_match_all_rows": q48_match_all_rows,
    "q49_match_bounded_quant": q49_match_bounded_quant,
    "q50_match_permute": q50_match_permute,
    "q51_match_nested_group": q51_match_nested_group,
    "q52_match_within": q52_match_within,
    "q53_match_alternated_sequences": q53_match_alternated_sequences,
    "q54_match_desc_tie_order": q54_match_desc_tie_order,
    "q55_match_permute_wide": q55_match_permute_wide,
    "q56_match_running_final": q56_match_running_final,
    "q57_match_rowtime": q57_match_rowtime,
    "q60_match_global": q60_match_global,
    "q61_match_skip_to_var": q61_match_skip_to_var,
    "q62_match_all_rows_overlap": q62_match_all_rows_overlap,
    "q63_match_permute_within": q63_match_permute_within,
    "q64_match_within_next": q64_match_within_next,
    "q65_match_within_alternation": q65_match_within_alternation,
}
ORACLES = {
    "q45_match_recognize": ORACLE_Q45,
    "q47_match_alternation": ORACLE_Q47,
    "q48_match_all_rows": ORACLE_Q48,
    "q49_match_bounded_quant": ORACLE_Q49,
    "q50_match_permute": ORACLE_Q50,
    "q51_match_nested_group": ORACLE_Q51,
    "q52_match_within": ORACLE_Q52,
    "q53_match_alternated_sequences": ORACLE_Q53,
    "q54_match_desc_tie_order": ORACLE_Q54,
    "q55_match_permute_wide": ORACLE_Q55,
    "q56_match_running_final": ORACLE_Q56,
    "q57_match_rowtime": ORACLE_Q57,
    "q60_match_global": ORACLE_Q60,
    "q61_match_skip_to_var": ORACLE_Q61,
    "q62_match_all_rows_overlap": ORACLE_Q62,
    "q63_match_permute_within": ORACLE_Q63,
    "q64_match_within_next": ORACLE_Q64,
    "q65_match_within_alternation": ORACLE_Q65,
}


def stream_match_recognize(
    df: DataFrame,
    spec: MatchSpec,
    output_schema: str,
    drain_out: "list | None" = None,
    key_groups: "int | None" = None,
) -> DataFrame:
    """STREAMING MATCH_RECOGNIZE — per-key NFA state via
    ``applyInPandasWithState`` (Flink's CepOperator shape: keyed
    state, matches spanning micro-batches).

    Emission frontier: a match is emitted only once it is CLOSED —
    i.e. it ends before the first *viable pending* position (a
    non-consumed start whose attempt ran out of rows: it could still
    become, or grow into, a match when more rows arrive). State per
    key retains exactly the buffer suffix from that frontier — for
    run-shaped patterns that is the active tail, not the history.

    Ingest order: the matcher runs behind the watermark-buffered
    out-of-order front end (streaming/ooo.py — Flink CepOperator's
    element buffer: rows held in keyed state until the watermark
    passes them, folded in ORDER BY order, late rows dropped), so
    ``df`` must carry a watermark on the first ORDER BY column.

    Every AFTER MATCH strategy is supported (round 10 late; Flink
    streams all of them too). The one emission rule that is correct
    for all of them: emit a match iff its START precedes the
    frontier (the first scan position whose outcome can still change
    — the first pending match's start or ran-out attempt). A match
    starting before the frontier is closed by definition, and the
    kept buffer suffix replays the scan from the frontier exactly —
    overlapping matches (SKIP TO NEXT ROW / TO FIRST/LAST <var>)
    re-found there were never emitted, because rows before the
    frontier are dropped and the scan's attempts and resume targets
    from an attempted position never reach backwards. For SKIP PAST
    LAST ROW this start-based rule coincides with the previous
    end-based one (disjoint matches: every later attempt position is
    ≥ the match end)."""
    if not spec.partition_by:
        # global pattern — constant key, one state group (Flink runs
        # an unpartitioned streaming pattern at parallelism 1 too)
        kdf, keyed = _with_global_key(df, spec)
        out = stream_match_recognize(
            kdf,
            keyed,
            infer_output_schema(keyed, kdf),
            drain_out=drain_out,
            key_groups=key_groups,
        )
        return out.drop(_GK)
    _reject_wide_permute(spec)  # streaming always runs the NFA fold
    from flink_streaming_platform_web_spark.streaming.ooo import (
        watermark_buffered,
    )

    return watermark_buffered(
        df,
        list(spec.partition_by),
        spec.order_by[0],
        list(spec.order_by),
        _stream_fold(spec),
        output_schema,
        drain_out=drain_out,
        sort_asc=spec.order_asc or None,
        key_groups=key_groups,
    )


def _prev_lookback(spec: MatchSpec) -> int:
    """Largest physical offset any PREV in DEFINE or MEASURES can
    reach back from a candidate/anchor row. The xlated sources carry
    PREV as ``__prev('col', k)`` literals, so the bound is a static
    scan — 0 when the pattern never looks back."""
    sources = list(spec.define.values()) + [e for e, _ in spec.measures]
    return max((_prev_reach(src) for src in sources), default=0)


def _prev_reach(src: str) -> int:
    """Largest PREV offset in one xlated DEFINE/measure source."""
    return max(
        (
            int(m.group(1))
            for m in re.finditer(
                r"__prev\(\s*'[^']*'\s*,\s*(\d+)\s*\)", src
            )
        ),
        default=0,
    )


def _stream_fold(spec: MatchSpec):
    """Per-key streaming fold (state bytes, new row dicts, final) →
    (state bytes, emitted row dicts or None) — module-level so tests
    can drive it directly with their own micro-batch cuts."""
    import pickle

    ord0 = spec.order_by[0]
    # PREV can reach BEFORE the match start (physical offset — Flink
    # match_recognize §Logical offsets). Retain that many rows ahead
    # of the frontier as non-attempted lookback context, or a retained
    # start right at the frontier would see None where the unsplit
    # batch scan saw the dropped row's value (round 11).
    lookback = _prev_lookback(spec)

    def fold(
        inner: bytes | None, rows: list, final: bool = False
    ) -> "tuple[bytes, list | None]":
        # state: (tail, decided-attempt cache, scan_from)
        tail, cache, scan_from = (
            pickle.loads(inner) if inner is not None else ([], {}, 0)
        )
        if tail and rows and rows[0][ord0] < tail[-1][ord0]:
            raise RuntimeError(
                "stream_match_recognize: out-of-order ingest —"
                f" batch starts at {rows[0][ord0]} before buffered"
                f" {tail[-1][ord0]}; the watermark buffer released a"
                " key's rows behind its frontier"
            )
        buf = tail + rows
        # the decided-attempt memo kills the overlap-mode re-scan
        # cost: starts past the frontier whose outcome was settled in
        # an earlier batch (match or definitive fail decided without
        # touching the buffer end) are answered from the cache, so
        # retained rows are NFA-walked once per decision, not once
        # per micro-batch (VERDICT r10 item 5)
        matches, viable = _run_matcher(
            buf, spec, attempt_cache=cache, scan_from=scan_from
        )
        frontier = len(buf)
        if not final:
            # a match is pending (can still grow/change) when its
            # search touched the buffer end — a greedy quantifier that
            # hit the end and then backtracked into a shorter complete
            # match would extend with more rows, so emitting it now
            # would diverge from batch semantics. A match that ends at
            # the buffer end without reading past it is closed (a
            # fixed-length one, say). final=True (stop-with-drain, Flink's
            # MAX_WATERMARK at end of bounded input) means no more
            # rows can ever arrive: every found match is closed
            # exactly as batch EOF closes it, so everything emits.
            if viable is not None:
                frontier = min(frontier, viable)
            pending = [s for s, _, _, ran_out in matches if ran_out]
            if pending:
                frontier = min(frontier, pending[0])
        # start-based: correct for overlapping skip modes too (see
        # docstring); s < frontier ⇔ e ≤ frontier under PAST LAST ROW
        emit = [
            out
            for s, e, outs, _ in matches
            if s < frontier
            for out in outs
        ]
        trim_at = max(frontier - lookback, 0)
        keep = buf[trim_at:]
        kept_cache = {
            s - trim_at: v for s, v in cache.items() if s >= frontier
        }
        return (
            pickle.dumps((keep, kept_cache, frontier - trim_at)),
            emit or None,
        )

    fold.out_cols = lambda in_cols: (
        list(in_cols) if spec.all_rows else list(spec.partition_by)
    ) + [n for _, n in spec.measures]
    return fold


# --------------------------------------------------------------------------
# foreachBatch streaming tier route (round 15, VERDICT r14 item 1):
# for tier-eligible shapes the streaming CEP runs the BATCH tier SQL
# over the watermark-released frames inside foreachBatch instead of
# the per-key Python NFA fold — guide §4 (move work across the UDF
# boundary into Catalyst). These helpers classify a spec and split a
# released frame at the emission frontier; the frontier arguments are
# shape-specific and written out at each helper.
# --------------------------------------------------------------------------


def fb_stream_shape(df: DataFrame, spec: MatchSpec):
    """Classify ``spec`` for the foreachBatch streaming tier route.
    ``df`` must be a (possibly empty) BATCH DataFrame with the keyed
    input schema and ``spec.partition_by`` non-empty (a global
    pattern is wrapped with the constant key by the caller, exactly
    as the batch dispatcher does).

    Returns ``("fixed_next", k)`` when tier A compiles the spec
    (fixed length ``k``, AFTER MATCH SKIP TO NEXT ROW, row-local
    defines/measures), ``("trailing_plus", None)`` when tier C
    compiles it (``PATTERN (S B+|B*)`` under SKIP PAST LAST ROW,
    ONE ROW PER MATCH), else ``None`` (the NFA buffered route stays
    the general path). A spec whose PREV reaches further back than
    the rows its shape carries into the next frame is ``None`` too:
    the carried frame would show that PREV a NULL where the whole
    stream has a row.

    Frontier soundness per shape (why re-running the batch tier over
    per-batch frame prefixes converges to the batch result):

    - fixed_next: matches are per-start-position and ROW-LOCAL (every
      DEFINE/measure reads only the k rows of its own window — tier
      A's eligibility bar), and SKIP TO NEXT ROW makes them
      independent (no consumption). A match needs its full k-row
      window, so every match the tier finds in a frame is already
      final; matches whose window extends past the frame's last row
      simply don't exist yet and are found once the rows arrive.
      Keeping the last k-1 rows per key as the next frame's prefix
      is therefore exact: no match can be found twice (a re-found
      match would fit entirely in those k-1 rows — impossible) and
      none can be missed (every start position eventually sits in a
      frame with its full window). Released rows only ever APPEND in
      ORDER BY order (a release boundary is an event-time cut and
      future rows are strictly later), so frames are true prefixes.
      The frame's first row can start a new match, so no PREV may
      reach before its own match's first row: a variable at pattern
      position ``i`` may look back at most ``i`` rows.
    - trailing_plus: matches are EXACTLY tier C's gaps-and-islands
      decomposition (maximal runs of define-true rows behind their
      break-row head). An island is pending while it contains the
      key's last released row — a future define-true row would extend
      it — and final the moment a later island head exists. Emitting
      all islands of a frame except the key's LAST one, and carrying
      that last island (from its head row) as the next frame's
      prefix, emits every island exactly once; re-computing the
      define on the carried head sees LAG → NULL where the original
      frame saw the prior island's last row, but both evaluate
      not-TRUE (heads are by construction define-not-true rows), so
      the island decomposition of the carried frame is unchanged.
      The first re-evaluated row follows the head, so PREV may reach
      back one row.
    """
    if spec.all_rows or not spec.partition_by:
        return None
    if _fixed_len_sql(df, spec) is not None:
        # tier A compiled it: fixed length = element count (tier A
        # only accepts patterns whose every element consumes one row)
        reach = max(
            [
                _prev_reach(spec.define.get(v) or "") - i
                for i, (atoms, _q) in enumerate(spec.pattern)
                for v in atoms
            ]
            + [_prev_reach(e) for e, _ in spec.measures]
        )
        if reach > 0:
            return None
        return ("fixed_next", len(spec.pattern))
    if fb_trailing_plus_split(df, spec) is not None:
        if _prev_lookback(spec) > 1:
            return None
        return ("trailing_plus", None)
    return None


def fb_trailing_plus_split(df: DataFrame, spec: MatchSpec):
    """Split a released batch frame for a tier-C spec into
    ``(decided, tail)``: ``tail`` is each key's LAST island (the one
    containing the key's last row — still extensible by future rows),
    ``decided`` everything before it. Both carry exactly ``df``'s
    columns. Returns None when the spec isn't tier-C-compilable
    (the island builder :func:`_islands` gates it). See
    :func:`fb_stream_shape` for the soundness argument."""
    if spec.all_rows or not spec.partition_by:
        return None
    isl = _islands(df, spec, ("__mr_rn__", "__mr_head__", "__fb_ph__"))
    if isl is None:
        return None
    # heads are monotone in __mr_rn__, so each key's last (pending)
    # island head is the MAX
    s2, part_sql = isl[:2]
    s3 = s2.selectExpr(
        "*",
        f"MAX(`__mr_head__`) OVER (PARTITION BY {part_sql})"
        " AS `__fb_ph__`",
    )
    base = list(df.columns)
    decided = s3.where("`__mr_head__` < `__fb_ph__`").select(*base)
    tail = s3.where("`__mr_head__` = `__fb_ph__`").select(*base)
    return decided, tail
