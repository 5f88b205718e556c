"""General MatchPath: symbol-pattern matching over row sequences, the
analog of the reference's MatchPath PTF (SURVEY.md §2.4,
hive-exec!ql/udf/ptf/MatchPath.class: npath/matchpath, the
pre-MATCH_RECOGNIZE row-pattern surface).

The reference walks each PTF partition's ordered rows with a symbol
automaton compiled from a pattern string like ``LATE.EARLY*.ONTIME``
(symbols are boolean row-predicates; ``.`` chains; ``*``/``+``/``?``
and ``{m,n}`` quantify; ``|`` alternates) and, for every row where a
match STARTS, emits the row plus match metadata.

Here one ``CASE`` expression maps each row to one symbol character
(JVM-side, inside whole-stage codegen), one shuffle on the partition
key groups each entity's rows, and the pattern, parsed once by
``_parse_ast``, runs on one of three plans chosen by ``_route``:

1. **lead chain** (finite patterns): each start row reads its next
   K-1 symbol chars through ``lead()`` and one ``coalesce(when(...))``
   tries the concrete branches in regex-backtracking order;
2. **island walk** (flat chains with an unbounded quantifier): runs of
   equal segment ids are islands, and each start row checks its
   successor islands' ids and lengths, all in window expressions;
3. **automaton** (everything else): ``mapInPandas`` over the sorted
   Arrow batches tests the pattern, translated to a Python regex, at
   every possible start position of each key's symbol string.

All three emit greedy, leftmost-longest matches at each start row,
the reference's per-row "does a match begin here" semantics. The
DuckDB oracle reproduces them declaratively: ``string_agg`` builds
the same per-entity symbol string and ``regexp_extract('^...')``
anchors the same greedy regex at every position.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from hive_service_spark.catalog import load
from hive_service_spark.registry import query

# ---------------------------------------------------------------------------
# pattern compiler: "a.b*.c" over named symbols -> (classifier, regex)
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|\{\d+(?:,\d*)?\}|[*+?()|]")


def compile_pattern(pattern: str, symbol_order: Iterable[str]) -> tuple[dict[str, str], str]:
    """Compile a MatchPath pattern to (symbol->char map, regex source).

    Grammar (the reference MatchPath surface): symbol names chained
    with ``.``, postfix quantifiers ``* + ?`` and bounded ``{m}`` /
    ``{m,}`` / ``{m,n}``, grouping ``( )`` and alternation ``|``.
    Symbols are assigned one character each in ``symbol_order``; the
    regex matches over the per-row symbol-char string. Rows matching
    no symbol get the reserved char ``'x'``, which no pattern element
    can match.
    """
    # the alphabet skips the reserved no-symbol char 'x' and spills
    # past 'z' into the upper case, so no two symbols share a char
    alphabet = [
        c
        for c in map(chr, range(ord("a"), ord("z") + 1))
        if c != "x"
    ] + [c for c in map(chr, range(ord("A"), ord("Z") + 1))]
    chars: dict[str, str] = {}
    for i, name in enumerate(symbol_order):
        if i >= len(alphabet):
            raise ValueError("too many symbols (max 51)")
        chars[name] = alphabet[i]
    assert len(set(chars.values())) == len(chars), "symbol chars collide"
    out: list[str] = []
    for tok in _TOKEN_RE.findall(pattern.replace(".", " ")):
        if tok in "*+?()|" or tok.startswith("{"):
            out.append(tok)
        elif tok in chars:
            out.append(chars[tok])
        else:
            raise ValueError(f"unknown symbol {tok!r} in pattern {pattern!r}")
    return chars, "".join(out)


_INF = 10**9  # "unbounded" sentinel for segment max-counts


def _quant_bounds(q: str) -> tuple[int, int] | None:
    """Quantifier token -> (min, max) row counts; None if malformed
    (lo > hi routes to the automaton, whose re.compile raises the
    natural error)."""
    fixed = {"?": (0, 1), "*": (0, _INF), "+": (1, _INF)}
    if q in fixed:
        return fixed[q]
    m = re.fullmatch(r"\{(\d+)(,(\d*))?\}", q)
    if not m:
        return None
    lo = int(m.group(1))
    if m.group(2) is None:
        hi = lo  # {m}
    elif m.group(3) == "":
        hi = _INF  # {m,}
    else:
        hi = int(m.group(3))  # {m,n}
    return (lo, hi) if lo <= hi else None


def _chain_variants(
    atoms: list[tuple[frozenset[str], int, int]],
) -> list[list[tuple[frozenset[str], int, int]]] | None:
    """Expand a flat chain of ``(charset, min, max)`` atoms into its
    concrete island-segment variants, in greedy (regex-backtracking)
    preference order.

    Each min-0 atom is either PRESENT (consuming >= 1 row; ``?``
    exactly 1) or ABSENT: ``a*`` is exactly ``epsilon | a+``. For a
    given presence choice, adjacent atoms with the same charset merge
    into one SEGMENT with summed (min, max) row counts: a maximal run
    of one segment's chars in the row stream is one island, and a
    segment consumes only within one island because its neighbors'
    charsets are disjoint from it. Merging is also what makes the
    backtracking cases exact: ``a.b*.b``'s b*-present variant becomes
    segment b:(2, inf), whose greedy consumption of the whole island
    IS the regex's "maximal b* then give one back" (the b*-absent
    variant is b:(1, 1)).

    Preference order: itertools.product with present > absent and the
    LEFTMOST optional as the most significant choice, the same order
    a backtracking regex engine explores (latest choice point flipped
    first). The first matching variant per start row wins."""
    from itertools import product

    opt = [i for i, (_, lo, _) in enumerate(atoms) if lo == 0]
    variants: list[list[tuple[frozenset[str], int, int]]] = []
    seen: set[tuple] = set()
    for mask in product([True, False], repeat=len(opt)):
        present = dict(zip(opt, mask))
        segs: list[tuple[frozenset[str], int, int]] = []
        for i, (cs, qlo, qhi) in enumerate(atoms):
            if qlo == 0 and not present[i]:
                continue
            # a PRESENT min-0 atom consumes >= 1 row ('?' is exactly
            # one; '*' is '+'; '{0,n}' is '{1,n}')
            lo, hi = max(qlo, 1), qhi
            if segs and segs[-1][0] == cs:
                plo, phi = segs[-1][1], segs[-1][2]
                segs[-1] = (cs, plo + lo, min(phi + hi, _INF))
            else:
                segs.append((cs, lo, hi))
        key = tuple(segs)
        if not segs or key in seen:
            continue
        seen.add(key)
        variants.append(segs)
    return variants or None


# Lead-chain caps. K is the lead depth (the longest branch; each lead
# is one 1-char and one timestamp column over the already-sorted
# window); COMPS is the number of distinct branches, each one boolean
# conjunction inside a single coalesce. COMPS is set from a measured
# crossover (SCALE.md, lead-chain branch caps): on the dense-start
# family the compiled plan is faster than the automaton at 8 branches,
# about even at 16-32, 2.3x slower at 64 and 34x slower at 1024, where
# the coalesce passes the JVM's 64 KB generated-method limit and runs
# interpreted. 32 is the break-even edge; at equal wall time the plan
# without a Python stage is preferred.
_LEAD_MAX_K = 16
_LEAD_MAX_COMPS = 32


class _TooBig(Exception):
    """Finite-pattern expansion exceeded the lead-chain caps — route
    to the automaton instead of building an oversized expression."""


def _parse_ast(pattern: str):
    """Parse a MatchPath pattern into an AST, the one front end every
    plan is built from. Grammar::

        expr := seq ('|' seq)*
        seq  := atom+
        atom := (name | '(' expr ')') quant?

    Nodes: ``("sym", frozenset[name])`` (an alternation of bare
    single symbols collapses to one charset atom — each branch
    consumes exactly one row with identical continuations, so
    first-branch-wins preference cannot differ and set membership is
    exact), ``("seq", [nodes])``, ``("alt", [nodes])``,
    ``("quant", node, lo, hi)``. Returns None on malformed input
    (the automaton's re.compile raises the natural error)."""
    toks = _TOKEN_RE.findall(pattern.replace(".", " "))
    if not toks:
        return None
    pos = [0]

    def _peek():
        return toks[pos[0]] if pos[0] < len(toks) else None

    def _is_name(t):
        return t is not None and t not in "*+?()|" and not t.startswith("{")

    def _seq():
        atoms = []
        while True:
            t = _peek()
            if _is_name(t):
                pos[0] += 1
                node = ("sym", frozenset((t,)))
            elif t == "(":
                pos[0] += 1
                node = _expr()
                if node is None or _peek() != ")":
                    return None
                pos[0] += 1
            else:
                break
            q = _peek()
            if q is not None and (q in "*+?" or q.startswith("{")):
                pos[0] += 1
                b = _quant_bounds(q)
                if b is None:
                    return None
                if b != (1, 1):
                    node = ("quant", node, b[0], b[1])
            atoms.append(node)
        if not atoms:
            return None
        return atoms[0] if len(atoms) == 1 else ("seq", atoms)

    def _expr():
        branches = [_seq()]
        while _peek() == "|":
            pos[0] += 1
            branches.append(_seq())
        if any(b is None for b in branches):
            return None
        if len(branches) == 1:
            return branches[0]
        if all(b[0] == "sym" for b in branches):
            return ("sym", frozenset().union(*(b[1] for b in branches)))
        return ("alt", branches)

    ast = _expr()
    return ast if ast is not None and pos[0] == len(toks) else None


def _flat_atoms(
    ast, chars: dict[str, str]
) -> list[tuple[frozenset[str], int, int]] | None:
    """The AST as a flat chain of ``(charset, min, max)`` atoms, or
    None unless it is a ``seq`` (or a single atom) of ``sym`` /
    ``quant(sym)`` nodes — the only shape the island walk keys."""
    atoms = []
    for node in ast[1] if ast[0] == "seq" else [ast]:
        lo = hi = 1
        if node[0] == "quant":
            _, node, lo, hi = node
        if node[0] != "sym":
            return None
        atoms.append((frozenset(chars[n] for n in node[1]), lo, hi))
    return atoms


def _ast_first_chars(ast, chars: dict[str, str]) -> set[str]:
    """The pattern's FIRST set — every symbol char that can begin a
    NONEMPTY match — by the textbook FIRST/nullable recursion over the
    _parse_ast node shapes (the automaton skips start positions whose
    char is outside it without invoking the regex engine). Exact for
    the automaton's purposes: empty matches are discarded there
    regardless, and any nonempty match consumes its first row's char,
    which by construction is in this set."""

    def _walk(node) -> tuple[set[str], bool]:
        kind = node[0]
        if kind == "sym":
            return {chars[n] for n in node[1]}, False
        if kind == "alt":
            f: set[str] = set()
            nul = False
            for b in node[1]:
                fb, nb = _walk(b)
                f |= fb
                nul = nul or nb
            return f, nul
        if kind == "seq":
            f = set()
            nul = True
            for child in node[1]:
                fc, nc = _walk(child)
                f |= fc
                if not nc:
                    nul = False
                    break
            return f, nul
        # ("quant", node, lo, hi)
        fc, nc = _walk(node[1])
        return fc, nc or node[2] == 0

    return _walk(ast)[0]


def _enum_ast(ast, chars: dict[str, str]):
    """Expand a FINITE AST into concrete per-offset charset sequences
    (the lead chain's branches) in exact regex-backtracking order.

    Order correctness: a backtracking engine explores complete
    candidate shapes in DFS order where the LATEST choice point is
    unwound first. That is reproduced structurally:

    - ``seq``: leftmost child's choices are most significant
      (prefix-major product);
    - ``alt``: branches in written order;
    - greedy ``quant{lo,hi}``: at each repetition step the
      take-another-copy branches (each child alternative, in order,
      with all continuations) come BEFORE the stop branch — NOT plain
      count-descending enumeration, which would misorder e.g.
      ``(ab|c){1,2}``: the engine tries [ab] (1 copy, stop) before
      [c,ab] (2 copies, second alternative first copy).

    Duplicate offset signatures keep only their first (earlier
    duplicates shadow later unreachable branches). The EMPTY
    composition is a barrier, not a skip: if the engine reaches the
    empty branch it RETURNS the empty match — which the automaton then
    discards (m.end() > i) — so every branch after the first empty
    composition is unreachable and the list truncates there
    (``(c?|a)`` matches nothing at an ``a`` row: c? returns empty
    before the a-branch is ever tried; dropping the empties instead
    would emit the unreachable branches). A flat chain's empty
    composition, all optionals absent, is always LAST in preference
    order, where truncation and dropping coincide. Returns
    (compositions, K = max length) or None when any quantifier is
    unbounded or the _LEAD_MAX_K / _LEAD_MAX_COMPS caps are hit."""
    cap = _LEAD_MAX_COMPS * 4  # working pre-dedup bound

    def _enum(node):
        kind = node[0]
        if kind == "sym":
            return [(frozenset(chars[n] for n in node[1]),)]
        if kind == "alt":
            out = []
            for b in node[1]:
                out.extend(_enum(b))
                if len(out) > cap:
                    raise _TooBig
            return out
        if kind == "seq":
            out = [()]
            for child in node[1]:
                cl = _enum(child)
                nxt = []
                for prefix in out:
                    for s in cl:
                        t = prefix + s
                        if len(t) > _LEAD_MAX_K:
                            raise _TooBig
                        nxt.append(t)
                        if len(nxt) > cap:
                            raise _TooBig
                out = nxt
            return out
        # quant
        _, child, lo, hi = node
        if hi >= _INF or hi > _LEAD_MAX_K:
            raise _TooBig
        cl = _enum(child)
        memo: dict[tuple[int, int], list] = {}

        def rep(l: int, h: int):  # noqa: E741 - regex bound names
            key = (l, h)
            if key not in memo:
                out = []
                if h > 0:
                    for s in cl:
                        for t in rep(max(l - 1, 0), h - 1):
                            u = s + t
                            if len(u) > _LEAD_MAX_K:
                                raise _TooBig
                            out.append(u)
                            if len(out) > cap:
                                raise _TooBig
                if l == 0:
                    out.append(())
                memo[key] = out
            return memo[key]

        return rep(lo, hi)

    try:
        raw = _enum(ast)
    except _TooBig:
        return None
    seen: set[tuple] = set()
    comps: list[list[frozenset[str]]] = []
    for c in raw:
        if not c:
            break  # empty-match barrier: later branches unreachable
        if c in seen:
            continue
        seen.add(c)
        comps.append(list(c))
    if not comps or len(comps) > _LEAD_MAX_COMPS:
        return None
    return comps, max(len(c) for c in comps)


def _matchpath_jvm_leadchain(
    slim: DataFrame,
    order_cols: list,  # str names or direction-aware Columns
    partition_by: str,
    comps: list[list[frozenset[str]]],
    k_max: int,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """A finite pattern compiled to a lead-chain window plan, with no
    Python stage and no join. Membership is checked PER OFFSET, so
    charsets may overlap (a row with char c can serve ``(b|c)`` and
    ``(c|d)`` alike): each candidate start row sees its next K−1
    symbol chars and timestamps via lead() over the per-key sort, and
    each concrete composition (one regex backtracking branch) is a
    conjunction of ``lead(_ch, p) ∈ set`` terms, picked in greedy
    preference order by a single coalesce(when(...)). A null lead
    (partition end) makes the conjunction null, never true, so matches
    cannot overrun the key's sequence.

    ONE sort-shuffle on the partition key, then a projection over at
    most _LEAD_MAX_K lead columns inside whole-stage codegen."""
    from pyspark.sql import Window

    w = Window.partitionBy("pk").orderBy(*order_cols)
    lead_cols = []
    for p in range(1, k_max):
        lead_cols += [
            F.lead("_ch", p).over(w).alias(f"c_{p}"),
            F.lead("_ts", p).over(w).alias(f"t_{p}"),
        ]
    rows = slim.select(
        "*", F.row_number().over(w).alias("rn"), *lead_cols
    )

    def _member(p: int, cs: frozenset[str]):
        col = F.col("_ch") if p == 0 else F.col(f"c_{p}")
        if len(cs) == 1:
            return col == next(iter(cs))
        return col.isin(*sorted(cs))

    def _comp(offsets: list[frozenset[str]]):
        cond = _member(0, offsets[0])
        for p, cs in enumerate(offsets[1:], start=1):
            cond = cond & _member(p, cs)
        last = len(offsets) - 1
        end_ts = F.col("_ts") if last == 0 else F.col(f"t_{last}")
        return cond, len(offsets), end_ts

    first_sets = sorted({c for comp in comps for c in comp[0]})
    pick = F.coalesce(
        *[
            F.when(c, F.struct(F.lit(ln).alias("l"), e.alias("e")))
            for c, ln, e in (_comp(o) for o in comps)
        ]
    )
    return (
        rows.where(F.col("_ch").isin(*first_sets))
        .select("pk", "rn", "_ts", *passthrough, pick.alias("m"))
        .where(F.col("m").isNotNull())
        .select(
            F.col("pk").alias(partition_by),
            F.col("rn").cast("int").alias("start_rn"),
            F.col("m.l").cast("int").alias("match_len"),
            F.col("_ts").alias("path_start"),
            F.col("m.e").alias("path_end"),
            *passthrough,
        )
    )


def _matchpath_jvm_chain(
    slim: DataFrame,
    order_cols: list,  # str names or direction-aware Columns
    partition_by: str,
    variants: list[list[tuple[str, int, int]]],
    group_of: dict[str, str],
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """A flat segment chain compiled to window expressions (the island
    walk): no Python stage, no join and no aggregate. Shape:

    - each row's symbol char maps to its segment GROUP id: a group
      ``(b|c)`` is one segment whose char-set is {b, c}, and the
      caller guarantees the pattern's char-sets are pairwise disjoint,
      so the id is well-defined per row (a plain char is its own
      singleton group). The mapping is a single ``translate()``;
      chars outside every set pass through unchanged, so they form
      their own islands and never satisfy a segment condition;
    - runs of equal group ids are islands, and every island attribute
      is derived per ROW on the one (pk, order) sort. Each island's
      first row carries a marker struct ``__s0`` = (start rn, group,
      first ts, PREVIOUS island's last ts — the row right before an
      island start is the previous island's last row); any row sees
      its k-th successor island as ``lead(__s0, k) IGNORE NULLS``
      (skipping non-start rows), and two partition-level aggregates
      (row count, last ts) close the final island. Island k's length
      = (island k+1's start rn, or partition count + 1) − its own
      start rn; its last ts = island k+1's prev-last-ts, or the
      partition's last ts;
    - every row of a variant's first group is a candidate start; its
      remainder rem = rows left in its own island is segment 1's
      forced consumption, successor island j must carry segment j+1's
      group with length inside that segment's (min, max), and the
      FINAL segment consumes one row (max 1) or its whole island
      (unbounded) — greedy and exact, because adjacent segments'
      char-sets are disjoint, so a segment can never stop short of its
      island's end except at the very end of the match;
    - variants are tried in regex-backtracking preference order via
      one coalesce(when(...)) per output column, and the match's END
      timestamp is the final island's first or last ts.

    ONE sort-shuffle on the partition key, two Window passes over it
    (markers, then their leads), then pure projections."""
    from pyspark.sql import Window

    src = "".join(group_of)
    dst = "".join(group_of[c] for c in group_of)
    slim = slim.withColumn("_g", F.translate("_ch", src, dst))
    # a min-0 FIRST atom makes variants start in different groups:
    # candidates widen to the union of first groups, and each
    # variant's condition gains a `_g == its-own-first-group` gate
    # (the char-sets are disjoint, so exactly one gate holds per row
    # and the coalesce preference order within that row's variants is
    # intact)
    first_groups = sorted({v[0][0] for v in variants})
    multi_start = len(first_groups) > 1
    k_lead = max(len(v) for v in variants) - 1

    w = Window.partitionBy("pk").orderBy(*order_cols)
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rows = slim.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.lag("_g").over(w).alias("__pg"),
        F.lag("_ts").over(w).alias("__pts"),
        # partition totals (one O(n) unbounded-frame pass sharing the
        # same sort): the final island's end has no successor marker
        F.count(F.lit(1)).over(wall).alias("__n_all"),
        F.last("_ts").over(wall).alias("__lts_all"),
    ).withColumn(
        # island-start marker: non-null exactly on each island's first
        # row; _g is never null, so lag-null means "partition start"
        "__s0",
        F.when(
            F.col("__pg").isNull() | (F.col("__pg") != F.col("_g")),
            F.struct(
                F.col("rn").alias("srn"),
                F.col("_g").alias("g"),
                F.col("_ts").alias("fts"),
                F.col("__pts").alias("plts"),
            ),
        ),
    )
    # the k-th FOLLOWING island's marker, from any row, via lead ...
    # IGNORE NULLS (k_lead + 1 so the deepest island it gates still
    # has a length/last-ts); PySpark's lead() lacks the ignoreNulls
    # flag, so the expression goes through F.expr
    rows = rows.select(
        "*",
        *[
            F.expr(f"lead(__s0, {k}) IGNORE NULLS").over(w).alias(f"__s{k}")
            for k in range(1, k_lead + 2)
        ],
    )

    def _succ(k: int):
        """Per-row columns of the k-th successor island (k >= 1):
        group char, length, first/last ts — null wherever island k
        does not exist."""
        sk, sk1 = F.col(f"__s{k}"), F.col(f"__s{k + 1}")
        nxt_start = F.when(sk1.isNotNull(), sk1["srn"]).otherwise(
            F.col("__n_all") + 1
        )
        return [
            sk["g"].alias(f"ch_{k}"),
            (nxt_start - sk["srn"]).alias(f"n_{k}"),
            sk["fts"].alias(f"fts_{k}"),
            F.when(sk1.isNotNull(), sk1["plts"])
            .otherwise(F.col("__lts_all"))
            .alias(f"lts_{k}"),
        ]

    # own-island end attributes (segment 1 consumes within the
    # candidate's own island): its end rn is the next island's start
    # minus one, its last ts the next island's prev-last-ts
    own_end = F.when(
        F.col("__s1").isNotNull(), F.col("__s1")["srn"]
    ).otherwise(F.col("__n_all") + 1) - 1
    own_lts = F.when(
        F.col("__s1").isNotNull(), F.col("__s1")["plts"]
    ).otherwise(F.col("__lts_all"))
    cand = rows.where(F.col("_g").isin(first_groups)).select(
        "pk",
        "rn",
        "_ts",
        "_g",
        *passthrough,
        own_end.alias("i_end"),
        own_lts.alias("i_last_ts"),
        *[c for k in range(1, k_lead + 1) for c in _succ(k)],
    )
    rem = F.col("i_end") - F.col("rn") + 1

    def _gate(ch0, cond):
        return (F.col("_g") == ch0) & cond if multi_start else cond

    def _variant(segs):
        ch0, lo0, hi0 = segs[0]
        m = len(segs)
        if m == 1:
            # nothing follows, so segment 1 is NOT forced to eat its
            # whole island: greedy consumption = min(max, rem), needs
            # only rem >= min
            cond = rem >= lo0
            if hi0 == _INF:
                length, end_ts = rem, F.col("i_last_ts")
            else:
                length, end_ts = F.lit(1), F.col("_ts")
            return _gate(ch0, cond), length.cast("long"), end_ts
        # segment 2's char differs, so segment 1 must consume the whole
        # island remainder: rem itself must sit inside (min, max)
        cond = (rem >= lo0) if hi0 == _INF else rem.between(lo0, hi0)
        length = rem
        for j in range(1, m - 1):  # middle segments: whole islands
            chj, loj, hij = segs[j]
            cj = (F.col(f"ch_{j}") == chj) & (F.col(f"n_{j}") >= loj)
            if hij != _INF:
                cj = cj & (F.col(f"n_{j}") <= hij)
            cond = cond & cj
            length = length + F.col(f"n_{j}")
        chm, lom, him = segs[-1]
        k = m - 1
        cond = cond & (F.col(f"ch_{k}") == chm) & (F.col(f"n_{k}") >= lom)
        if him == _INF:  # greedy: eat the whole final island
            length = length + F.col(f"n_{k}")
            end_ts = F.col(f"lts_{k}")
        else:
            length = length + F.lit(1)
            end_ts = F.col(f"fts_{k}")
        return _gate(ch0, cond), length.cast("long"), end_ts

    pick = F.coalesce(
        *[
            F.when(c, F.struct(ln.alias("l"), e.alias("e")))
            for c, ln, e in (_variant(v) for v in variants)
        ]
    )
    return (
        cand.select("pk", "rn", "_ts", *passthrough, pick.alias("m"))
        .where(F.col("m").isNotNull())
        .select(
            F.col("pk").alias(partition_by),
            F.col("rn").cast("int").alias("start_rn"),
            F.col("m.l").cast("int").alias("match_len"),
            F.col("_ts").alias("path_start"),
            F.col("m.e").alias("path_end"),
            *passthrough,
        )
    )


def _split_order_suffix(item: str) -> tuple[str, bool, str | None]:
    """``"ts DESC"`` -> ("ts", True, None); ``"ts"`` / ``"ts ASC"``
    -> ("ts", False, None); ``"ts DESC NULLS FIRST"`` -> ("ts", True,
    "first") — the reference PTF's OrderSpec carries BOTH a direction
    and a null ordering per column (hive-exec!ql/parse/
    PTFInvocationSpec). Suffixes must be trailing bare keywords so an
    expression containing the letters (a column named `descr`, a
    function call) is never misread."""
    m = re.match(
        r"(?is)^(.*?)(?:\s+(asc|desc))?(?:\s+nulls\s+(first|last))?$",
        item.strip(),
    )
    expr = m.group(1).strip()
    desc = (m.group(2) or "").lower() == "desc"
    nulls = m.group(3).lower() if m.group(3) else None
    return expr, desc, nulls


_PLAIN_IDENT = re.compile(r"^[A-Za-z_]\w*$")


def _sort_col(expr: str, src: str) -> Column:
    """Resolve one parsed order expression to a Column. A plain
    identifier resolves via F.col — so a direct-API caller whose column
    NAME is a SQL reserved word (`order`, `select`) keeps working, where
    F.expr would try to parse it — anything else via F.expr. An empty
    parse (a name _split_order_suffix consumed entirely as direction
    tokens) raises instead of silently building an empty expression."""
    if not expr:
        raise ValueError(
            f"matchpath: order item {src!r} parsed to an empty "
            "expression — a column whose NAME ends in an ASC/DESC/"
            "NULLS FIRST/NULLS LAST token must be renamed or wrapped "
            "in backticks"
        )
    return F.col(expr) if _PLAIN_IDENT.match(expr) else F.expr(expr)


def _order_key(col: Column, desc: bool, nulls: str | None) -> Column:
    """Direction + null-ordering applied to a sort key column. Spark
    defaults match SQL's (ASC -> nulls first, DESC -> nulls last), so
    only the explicit overrides change anything."""
    if desc:
        return col.desc_nulls_first() if nulls == "first" else (
            col.desc_nulls_last() if nulls == "last" else col.desc()
        )
    return col.asc_nulls_last() if nulls == "last" else (
        col.asc_nulls_first() if nulls == "first" else col
    )


def _route(
    pattern: str, chars: dict[str, str]
) -> tuple[str, tuple | None]:
    """The one plan-routing decision, shared by matchpath() (which
    executes it) and npath_sql (which asks it to pick the composite-key
    packing). Returns ("lead", (comps, k_max)), ("chain", (variants,
    group_of)) or ("automaton", None); the rule is stated on
    matchpath()."""
    ast = _parse_ast(pattern)
    if ast is None:
        return "automaton", None
    lead = _enum_ast(ast, chars)
    if lead is not None:
        return "lead", lead
    atoms = _flat_atoms(ast, chars)
    if atoms is None or sum(lo == 0 for _, lo, _ in atoms) > 6:
        return "automaton", None
    # the island key is only well-defined when the DISTINCT char-sets
    # are pairwise disjoint (identical sets share a group)
    distinct = {cs for cs, _, _ in atoms}
    if any(a != b and a & b for a in distinct for b in distinct):
        return "automaton", None
    variants = _chain_variants(atoms)
    if variants is None or any(v[-1][2] not in (1, _INF) for v in variants):
        return "automaton", None
    # one representative char per group; translate() maps every
    # member char onto it
    group_of = {c: min(cs) for cs in distinct for c in sorted(cs)}
    variants = [
        [(min(cs), lo, hi) for cs, lo, hi in segs] for segs in variants
    ]
    return "chain", (variants, group_of)


def matchpath(
    df: DataFrame,
    partition_by: str,
    order_by: list[str],
    symbols: dict[str, Column],
    pattern: str,
    ts_col: str = "ts",
    force_automaton: bool = False,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Generic MatchPath over any DataFrame.

    ``symbols`` maps symbol name -> boolean Column (first match wins,
    like the reference's symbol-arg ordering). Emits one row per match
    start: (partition key, start_rn, match_len, path_start, path_end).

    Routing (``_route``): the pattern is parsed once by ``_parse_ast``,
    then

    1. if ``_enum_ast`` expands it to at most ``_LEAD_MAX_COMPS`` (32)
       branches no longer than ``_LEAD_MAX_K`` (16) rows, it runs on
       the **lead chain** (_matchpath_jvm_leadchain);
    2. otherwise, if it is a flat chain of symbol or charset atoms
       (``(b|c)``), each with an optional quantifier, whose distinct
       charsets are pairwise disjoint, with at most 6 min-0 atoms, and
       every variant's final segment has a max of 1 or unbounded, it
       runs on the **island walk** (_matchpath_jvm_chain);
    3. otherwise it runs on the **automaton** below: an unbounded
       quantifier over overlapping charsets (``(a|b)*.b``) or over a
       group (``(a.b)+.c``), an unbounded chain whose final segment is
       bounded (``a.b*.c{2,3}``), or a finite pattern past the caps.

    SCALE.md's MatchPath regime table measures each plan against its
    fallback: both compiled plans beat the automaton on their own
    patterns, and on finite patterns the lead chain beats the island
    walk.

    ``order_by`` items accept optional ``ASC``/``DESC`` and ``NULLS
    FIRST``/``NULLS LAST`` suffixes (``"ts DESC NULLS FIRST"``), as
    the reference PTF's OrderSpec does (hive-exec!ql/parse/
    PTFInvocationSpec); a descending walk is how "latest-first"
    patterns (purchase, then the views that led to it) are expressed.
    Every plan uses the same direction- and nulls-aware keys.

    ``passthrough`` columns are carried onto each output row, valued
    from the match's START row, on all three plans — so a flag an
    upstream pass already stamped (capped_user_prefix's
    ``user_capped``) rides the match instead of forcing a re-scan.

    ``force_automaton=True`` runs the automaton for any pattern; it
    is the reference path for tests and measurements, never set in a
    registered query."""
    chars, rx_src = compile_pattern(pattern, symbols.keys())
    rx = re.compile(rx_src)

    ch = F.lit("x")
    # reversed: build CASE from last to first so the FIRST symbol wins
    for name, cond in reversed(list(symbols.items())):
        ch = F.when(cond, F.lit(chars[name])).otherwise(ch)

    order_parsed = [_split_order_suffix(c) for c in order_by]
    # passthrough columns ride the plans under reserved internal
    # aliases and are renamed back on the way out: a passthrough (or
    # composite-key) column named `rn`/`_g`/... must never meet the
    # plans' working columns
    pt_alias = tuple(f"__pt{i}" for i in range(len(passthrough)))
    slim = df.select(
        F.col(partition_by).alias("pk"),
        _sort_col(_split_order_suffix(ts_col)[0], ts_col).alias("_ts"),
        *[
            _sort_col(e, order_by[i]).alias(f"_o{i}")
            for i, (e, _d, _n) in enumerate(order_parsed)
        ],
        ch.alias("_ch"),
        *[F.col(c).alias(a) for c, a in zip(passthrough, pt_alias)],
    )
    order_cols = [
        _order_key(F.col(f"_o{i}"), d, n)
        for i, (_e, d, n) in enumerate(order_parsed)
    ]

    def _restore(res: DataFrame) -> DataFrame:
        for a, c in zip(pt_alias, passthrough):
            res = res.withColumnRenamed(a, c)
        return res

    route, payload = (
        ("automaton", None) if force_automaton else _route(pattern, chars)
    )
    if route == "chain":
        variants, group_of = payload
        return _restore(
            _matchpath_jvm_chain(
                slim,
                order_cols,
                partition_by,
                variants,
                group_of,
                pt_alias,
            )
        )
    if route == "lead":
        comps, k_max = payload
        return _restore(
            _matchpath_jvm_leadchain(
                slim, order_cols, partition_by, comps, k_max, pt_alias
            )
        )

    # the key column keeps its INPUT type, so string keys and
    # npath_sql's packed composite key round-trip
    pk_type = slim.schema["pk"].dataType.simpleString()
    if pk_type.startswith("struct"):
        # the pandas groupby below needs a HASHABLE key; a struct
        # arrives as per-row dicts. npath_sql only packs a struct key
        # for compiled-class patterns (it asks _route first) — a
        # direct caller must serialize, e.g. to_json, as npath_sql
        # does for automaton-class patterns.
        raise ValueError(
            "matchpath: the automaton fallback does not support a "
            "struct partition key — serialize it (e.g. to_json) first"
        )
    out_schema = (
        f"`{partition_by}` {pk_type}, start_rn int, match_len int, "
        "path_start timestamp, path_end timestamp"
        + "".join(
            f", {a} {slim.schema[a].dataType.simpleString()}"
            for a in pt_alias
        )
    )
    out_cols = [
        partition_by,
        "start_rn",
        "match_len",
        "path_start",
        "path_end",
        *pt_alias,
    ]

    # The automaton is mapInPandas over partition-sized Arrow batches,
    # not applyInPandas per group: per-group UDF invocation and frame
    # construction is O(n_keys) Python overhead, measured at 7-9 s
    # against ~1 s of matching for 1,500 keys at sf0.1. One hash
    # exchange and a per-partition sort deliver (pk, order)-sorted
    # batches; groups are sliced by a pandas groupby inside each
    # ~10k-row batch, and a group spanning a batch boundary is carried
    # into the next batch, so semantics are identical at any group
    # size.
    #
    # A NONEMPTY match must consume s[i] as its first char, so only
    # positions whose char is in the pattern's FIRST set can start one
    # (empty matches are discarded by the m.end() > i guard either
    # way, so the filter is exact). Candidate starts come from one
    # character-class finditer scan instead of len(s) regex calls;
    # without an AST every position is tried.
    _first_ast = _parse_ast(pattern)
    first_rx = None
    if _first_ast is not None:
        fs = _ast_first_chars(_first_ast, chars)
        first_rx = re.compile("[" + re.escape("".join(sorted(fs))) + "]") if fs else re.compile(r"(?!)")

    def _walk_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        # dropna=False: a NULL partition key is a group like any other
        # (the JVM plans keep null window partitions; pandas groupby
        # drops NaN keys by default)
        for pk, g in pdf.groupby("pk", sort=False, dropna=False):
            g = g.reset_index(drop=True)
            # NaN -> None so the long output column round-trips to a
            # SQL NULL instead of a float64 Arrow cast failure
            pk = None if pd.isna(pk) else pk
            s = "".join(g["_ch"])
            ts = g["_ts"]
            extra = [g[c] for c in pt_alias]
            starts = (
                (m0.start() for m0 in first_rx.finditer(s))
                if first_rx is not None
                else range(len(s))
            )
            for i in starts:
                m = rx.match(s, i)
                if m and m.end() > i:
                    rows.append(
                        (pk, i + 1, m.end() - i, ts.iat[i], ts.iat[m.end() - 1])
                        + tuple(x.iat[i] for x in extra)
                    )
        return pd.DataFrame(rows, columns=out_cols)

    def _key_mask(col: pd.Series, key) -> pd.Series:
        # null-safe membership: NaN == NaN is False in pandas
        return col.isna() if pd.isna(key) else col == key

    def _walk_batches(batches):
        # frames held back because they all belong to ONE key whose
        # group may continue in the next batch. Kept as a LIST and
        # concatenated once at flush time: re-concatenating a growing
        # carry per batch would make a group spanning many Arrow
        # batches quadratic in its row count (the hot-key case the
        # per-user budget exists for).
        carry: list[pd.DataFrame] = []

        def _flush(frames):
            big = (
                frames[0]
                if len(frames) == 1
                else pd.concat(frames, ignore_index=True)
            )
            return _walk_groups(big)

        for pdf in batches:
            if not len(pdf):
                continue
            if carry:
                ck = carry[-1]["pk"].iat[-1]
                first = pdf["pk"].iat[0]
                if not ((pd.isna(ck) and pd.isna(first)) or ck == first):
                    # the carried group ended exactly on the previous
                    # batch boundary — complete, walk it now
                    out = _flush(carry)
                    carry = []
                    if len(out):
                        yield out
            is_last = _key_mask(pdf["pk"], pdf["pk"].iat[-1])
            body = pdf.loc[~is_last]
            if len(body):
                if carry:
                    body = pd.concat([*carry, body], ignore_index=True)
                    carry = []
                out = _walk_groups(body)
                if len(out):
                    yield out
            carry.append(pdf.loc[is_last])
        if carry:
            out = _flush(carry)
            if len(out):
                yield out

    return _restore(
        slim.repartition("pk")
        .sortWithinPartitions("pk", *order_cols)
        .mapInPandas(_walk_batches, out_schema)
    )


# ---------------------------------------------------------------------------
# registered query: one-or-more views then a purchase (a pattern the
# fixed-LEAD funnel cannot express)
# ---------------------------------------------------------------------------

_GENERAL_ORACLE = """
WITH c AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'view' THEN 'a'
              WHEN event_type = 'purchase' THEN 'b'
              ELSE 'x' END AS ch,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
s AS (
  SELECT user_id, string_agg(ch, '' ORDER BY rn) AS str
  FROM c GROUP BY user_id
),
m AS (
  SELECT c.user_id, c.rn AS start_rn, c.ts AS path_start,
         length(regexp_extract(substr(s.str, CAST(c.rn AS INT)), '^aa*b'))
           AS match_len
  FROM c JOIN s USING (user_id)
)
SELECT m.user_id, CAST(m.start_rn AS INT) AS start_rn,
       CAST(m.match_len AS INT) AS match_len,
       CAST(m.path_start AS TIMESTAMP) AS path_start,
       CAST(e.ts AS TIMESTAMP) AS path_end
FROM m
JOIN c e ON e.user_id = m.user_id AND e.rn = m.start_rn + m.match_len - 1
WHERE m.match_len > 0
ORDER BY m.user_id, start_rn
"""


@query("seq_matchpath_general", oracle=_GENERAL_ORACLE)
def seq_matchpath_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General MatchPath: pattern ``view.view*.purchase`` (one or more
    consecutive views then a purchase) per user — a quantified pattern
    the fixed-LEAD funnel (seq_matchpath_funnel) cannot express. Each
    match start emits (start_rn, greedy match length, path start/end
    timestamps). The unbounded ``view*`` routes it to the island walk;
    see the module docstring for the reference parity."""
    ev = load(spark, sf_dir, "events")
    out = matchpath(
        ev,
        partition_by="user_id",
        order_by=["ts", "event_id"],
        symbols={
            "view": F.col("event_type") == "view",
            "purchase": F.col("event_type") == "purchase",
        },
        pattern="view.view*.purchase",
    )
    return out.orderBy("user_id", "start_rn")


# ---------------------------------------------------------------------------
# registered query: a 4-symbol quantified chain — the island walk's
# multi-island lookahead, zero Python
# ---------------------------------------------------------------------------

_CHAIN4_ORACLE = """
WITH c AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'signup' THEN 'a'
              WHEN event_type = 'view' THEN 'b'
              WHEN event_type = 'click' THEN 'c'
              WHEN event_type = 'purchase' THEN 'd'
              ELSE 'x' END AS ch,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
s AS (
  SELECT user_id, string_agg(ch, '' ORDER BY rn) AS str
  FROM c GROUP BY user_id
),
m AS (
  SELECT c.user_id, c.rn AS start_rn, c.ts AS path_start,
         length(regexp_extract(substr(s.str, CAST(c.rn AS INT)),
                               '^ab*c+d'))
           AS match_len
  FROM c JOIN s USING (user_id)
)
SELECT m.user_id, CAST(m.start_rn AS INT) AS start_rn,
       CAST(m.match_len AS INT) AS match_len,
       CAST(m.path_start AS TIMESTAMP) AS path_start,
       CAST(e.ts AS TIMESTAMP) AS path_end
FROM m
JOIN c e ON e.user_id = m.user_id AND e.rn = m.start_rn + m.match_len - 1
WHERE m.match_len > 0
ORDER BY m.user_id, start_rn
"""


@query("seq_matchpath_chain4", oracle=_CHAIN4_ORACLE)
def seq_matchpath_chain4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatchPath over a 4-symbol quantified chain:
    ``signup.view*.click+.purchase`` — a signup, any number of
    consecutive views, one-or-more clicks, then a purchase. It runs
    on the island walk: per-row island markers, their leads up to
    three successor islands deep, and one variant coalesce, all in
    window expressions; the reference automaton (hive-exec!ql/udf/ptf/
    MatchPath.class) walks the same NFA row-by-row in Java. The DuckDB
    oracle anchors the identical greedy regex at every row, so the
    value hash verifies match starts, greedy lengths, AND end
    timestamps."""
    ev = load(spark, sf_dir, "events")
    out = matchpath(
        ev,
        partition_by="user_id",
        order_by=["ts", "event_id"],
        symbols={
            "signup": F.col("event_type") == "signup",
            "view": F.col("event_type") == "view",
            "click": F.col("event_type") == "click",
            "purchase": F.col("event_type") == "purchase",
        },
        pattern="signup.view*.click+.purchase",
    )
    return out.orderBy("user_id", "start_rn")


# ---------------------------------------------------------------------------
# registered query: alternation group + bounded quantifier — a finite
# pattern on the lead chain, zero Python
# ---------------------------------------------------------------------------

_ALT_ORACLE = """
WITH c AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'signup' THEN 'a'
              WHEN event_type = 'view' THEN 'b'
              WHEN event_type = 'click' THEN 'c'
              WHEN event_type = 'purchase' THEN 'd'
              ELSE 'x' END AS ch,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
s AS (
  SELECT user_id, string_agg(ch, '' ORDER BY rn) AS str
  FROM c GROUP BY user_id
),
m AS (
  SELECT c.user_id, c.rn AS start_rn, c.ts AS path_start,
         length(regexp_extract(substr(s.str, CAST(c.rn AS INT)),
                               '^a(b|c){1,3}d'))
           AS match_len
  FROM c JOIN s USING (user_id)
)
SELECT m.user_id, CAST(m.start_rn AS INT) AS start_rn,
       CAST(m.match_len AS INT) AS match_len,
       CAST(m.path_start AS TIMESTAMP) AS path_start,
       CAST(e.ts AS TIMESTAMP) AS path_end
FROM m
JOIN c e ON e.user_id = m.user_id AND e.rn = m.start_rn + m.match_len - 1
WHERE m.match_len > 0
ORDER BY m.user_id, start_rn
"""


@query("seq_matchpath_alternation", oracle=_ALT_ORACLE)
def seq_matchpath_alternation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatchPath with an alternation-group atom AND a bounded
    quantifier: ``signup.(view|click){1,3}.purchase`` — a signup, one
    to three consecutive browse events of EITHER kind, then a
    purchase (the short-consideration conversion pattern). The pattern
    is finite (at most five rows, three branches), so it runs on the
    lead chain: each signup row checks its next rows' chars against
    {view, click} and {purchase} per offset, longest branch first, in
    one coalesce with no Python stage (pinned in
    test_matchpath_compile.py). Reference surface:
    hive-exec!ql/udf/ptf/MatchPath.class (npath symbol patterns allow
    alternation and bounded repetition). The DuckDB oracle anchors
    the identical greedy regex at every row, so the value hash
    verifies match starts, greedy lengths, AND end timestamps."""
    ev = load(spark, sf_dir, "events")
    out = matchpath(
        ev,
        partition_by="user_id",
        order_by=["ts", "event_id"],
        symbols={
            "signup": F.col("event_type") == "signup",
            "view": F.col("event_type") == "view",
            "click": F.col("event_type") == "click",
            "purchase": F.col("event_type") == "purchase",
        },
        pattern="signup.(view|click){1,3}.purchase",
    )
    return out.orderBy("user_id", "start_rn")


# ---------------------------------------------------------------------------
# registered query: OVERLAPPING alternation sets on the lead chain,
# zero Python
# ---------------------------------------------------------------------------

_OVERLAP_ORACLE = """
WITH c AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'signup' THEN 'a'
              WHEN event_type = 'view' THEN 'b'
              WHEN event_type = 'click' THEN 'c'
              WHEN event_type = 'purchase' THEN 'd'
              ELSE 'x' END AS ch,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
s AS (
  SELECT user_id, string_agg(ch, '' ORDER BY rn) AS str
  FROM c GROUP BY user_id
),
m AS (
  SELECT c.user_id, c.rn AS start_rn, c.ts AS path_start,
         length(regexp_extract(substr(s.str, CAST(c.rn AS INT)),
                               '^a(b|c){1,2}(c|d){1,2}'))
           AS match_len
  FROM c JOIN s USING (user_id)
)
SELECT m.user_id, CAST(m.start_rn AS INT) AS start_rn,
       CAST(m.match_len AS INT) AS match_len,
       CAST(m.path_start AS TIMESTAMP) AS path_start,
       CAST(e.ts AS TIMESTAMP) AS path_end
FROM m
JOIN c e ON e.user_id = m.user_id AND e.rn = m.start_rn + m.match_len - 1
WHERE m.match_len > 0
ORDER BY m.user_id, start_rn
"""


@query("seq_matchpath_overlap", oracle=_OVERLAP_ORACLE)
def seq_matchpath_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatchPath with OVERLAPPING alternation sets:
    ``signup.(view|click){1,2}.(click|purchase){1,2}`` — a signup, one
    or two browse events, then one or two conversion-side events,
    where a CLICK can satisfy either group (the consideration/decision
    boundary is ambiguous — the shape the island walk cannot key,
    because a click row belongs to two segments at once). The
    lead-chain plan (_matchpath_jvm_leadchain) checks set membership
    per offset over lead() columns on the one per-user sort, in
    regex-backtracking branch order via a single coalesce — no Python
    stage, no join (pinned in test_matchpath_compile.py). Reference
    surface:
    hive-exec-2.3.10-core.jar!ql/udf/ptf/MatchPath.class (npath symbol
    patterns allow overlapping alternation). The DuckDB oracle anchors
    the identical greedy regex at every row, so the value hash
    verifies match starts, greedy backtracking lengths, AND end
    timestamps."""
    ev = load(spark, sf_dir, "events")
    out = matchpath(
        ev,
        partition_by="user_id",
        order_by=["ts", "event_id"],
        symbols={
            "signup": F.col("event_type") == "signup",
            "view": F.col("event_type") == "view",
            "click": F.col("event_type") == "click",
            "purchase": F.col("event_type") == "purchase",
        },
        pattern="signup.(view|click){1,2}.(click|purchase){1,2}",
    )
    return out.orderBy("user_id", "start_rn")


# ---------------------------------------------------------------------------
# registered query: MEASURES over matched rows — the npath "tpath"
# aggregation surface (emit expressions computed over the match, not
# just match metadata)
# ---------------------------------------------------------------------------

_MEASURES_ORACLE = """
WITH c AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS v_c,
         CASE WHEN event_type = 'view' THEN 'a'
              WHEN event_type = 'purchase' THEN 'b'
              ELSE 'x' END AS ch,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
s AS (
  SELECT user_id, string_agg(ch, '' ORDER BY rn) AS str
  FROM c GROUP BY user_id
),
m AS (
  SELECT c.user_id, c.rn AS start_rn, c.ts AS path_start,
         length(regexp_extract(substr(s.str, CAST(c.rn AS INT)), '^aa*b'))
           AS match_len
  FROM c JOIN s USING (user_id)
  WHERE length(regexp_extract(substr(s.str, CAST(c.rn AS INT)), '^aa*b')) > 0
)
SELECT m.user_id, CAST(m.start_rn AS INT) AS start_rn,
       CAST(m.match_len AS INT) AS match_len,
       CAST(m.path_start AS TIMESTAMP) AS path_start,
       CAST(MAX(CASE WHEN r.rn = m.start_rn + m.match_len - 1 THEN r.ts END)
            AS TIMESTAMP) AS path_end,
       CAST(SUM(r.v_c) AS BIGINT) AS path_value_cents,
       CAST(MAX(r.v_c) AS BIGINT) AS max_event_cents
FROM m
JOIN c r ON r.user_id = m.user_id
        AND r.rn BETWEEN m.start_rn AND m.start_rn + m.match_len - 1
GROUP BY m.user_id, m.start_rn, m.match_len, m.path_start
ORDER BY m.user_id, start_rn
"""


@query("seq_matchpath_measures", oracle=_MEASURES_ORACLE)
def seq_matchpath_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatchPath MEASURES: aggregates computed OVER each match's rows —
    the reference's npath/tpath surface (hive-exec-2.3.10-core.jar!
    ql/udf/ptf/MatchPath.class emits selected expressions over the
    matched row set, e.g. tpath.size / sum over the path), which the
    metadata-only matchpath queries don't exercise. Pattern
    ``view.view*.purchase``; each match additionally reports the cent
    sum and max over its rows.

    Spark-first shape: matches come from the compiled island-walk plan
    (zero Python); because segments consume CONTIGUOUS row numbers,
    the matched row set is exactly rn IN [start_rn, start_rn +
    match_len), so measures are ONE explode(sequence(...)) — linear in
    total matched rows, never pattern-length-quadratic — plus one
    (user, rn) equi-join back to the row frame and one groupBy per
    match. At 100 TB: the row frame reuses the same user_id
    sort-shuffle family, the join fans in bounded by matches-per-user,
    and no row is duplicated beyond its match multiplicity (overlapping
    matches pay exactly their overlap, the npath semantics)."""
    ev = load(spark, sf_dir, "events")
    m = matchpath(
        ev,
        partition_by="user_id",
        order_by=["ts", "event_id"],
        symbols={
            "view": F.col("event_type") == "view",
            "purchase": F.col("event_type") == "purchase",
        },
        pattern="view.view*.purchase",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rows = ev.select(
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_c"),
    )
    exp = m.select(
        "user_id",
        "start_rn",
        "match_len",
        "path_start",
        "path_end",
        F.explode(
            F.sequence(
                F.col("start_rn"),
                F.col("start_rn") + F.col("match_len") - 1,
            )
        ).alias("rn"),
    )
    return (
        exp.join(rows, ["user_id", "rn"])
        .groupBy(
            "user_id", "start_rn", "match_len", "path_start", "path_end"
        )
        .agg(
            F.sum("v_c").cast("bigint").alias("path_value_cents"),
            F.max("v_c").cast("bigint").alias("max_event_cents"),
        )
        .select(
            "user_id",
            "start_rn",
            "match_len",
            "path_start",
            "path_end",
            "path_value_cents",
            "max_event_cents",
        )
        .orderBy("user_id", "start_rn")
    )


# ---------------------------------------------------------------------------
# registered query: NESTED group on the lead chain, zero Python
# ---------------------------------------------------------------------------

_NESTED_ORACLE = """
WITH c AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'signup' THEN 'a'
              WHEN event_type = 'view' THEN 'b'
              WHEN event_type = 'click' THEN 'c'
              WHEN event_type = 'purchase' THEN 'd'
              ELSE 'x' END AS ch,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
s AS (
  SELECT user_id, string_agg(ch, '' ORDER BY rn) AS str
  FROM c GROUP BY user_id
),
m AS (
  SELECT c.user_id, c.rn AS start_rn, c.ts AS path_start,
         length(regexp_extract(substr(s.str, CAST(c.rn AS INT)),
                               '^a(bc|c){1,2}d'))
           AS match_len
  FROM c JOIN s USING (user_id)
)
SELECT m.user_id, CAST(m.start_rn AS INT) AS start_rn,
       CAST(m.match_len AS INT) AS match_len,
       CAST(m.path_start AS TIMESTAMP) AS path_start,
       CAST(e.ts AS TIMESTAMP) AS path_end
FROM m
JOIN c e ON e.user_id = m.user_id AND e.rn = m.start_rn + m.match_len - 1
WHERE m.match_len > 0
ORDER BY m.user_id, start_rn
"""


@query("seq_matchpath_nested", oracle=_NESTED_ORACLE)
def seq_matchpath_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatchPath with a NESTED group — alternation of SEQUENCES inside
    a quantifier: ``signup.(view.click|click){1,2}.purchase`` — a
    signup, one or two browse UNITS (a unit is a view followed by its
    click, or a bare click), then a purchase. Not a segment chain at
    all (the repeated unit is itself a sequence), so the island walk
    cannot take it; _enum_ast enumerates the AST's concrete branch
    shapes in exact regex-backtracking DFS order (the engine tries
    [view·click] with one copy and STOP before two copies starting
    [click, …] — count-descending order would misorder mixed-length
    branches) for the lead-chain plan: per-offset set
    membership over lead() columns on the one per-user sort, one
    coalesce, no Python stage, no join (pinned in
    test_matchpath_compile.py). Reference surface:
    hive-exec-2.3.10-core.jar!ql/udf/ptf/MatchPath.class (npath symbol
    patterns allow nested grouping). The DuckDB oracle anchors the
    identical greedy regex at every row, so the value hash verifies
    match starts, backtracking lengths, AND end timestamps."""
    ev = load(spark, sf_dir, "events")
    out = matchpath(
        ev,
        partition_by="user_id",
        order_by=["ts", "event_id"],
        symbols={
            "signup": F.col("event_type") == "signup",
            "view": F.col("event_type") == "view",
            "click": F.col("event_type") == "click",
            "purchase": F.col("event_type") == "purchase",
        },
        pattern="signup.(view.click|click){1,2}.purchase",
    )
    return out.orderBy("user_id", "start_rn")


# ---------------------------------------------------------------------------
# registered query: min-0 FIRST atom over an UNBOUNDED chain on the
# island walk, zero Python
# ---------------------------------------------------------------------------

_OPTLEAD_ORACLE = """
WITH c AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'view' THEN 'a'
              WHEN event_type = 'click' THEN 'b'
              WHEN event_type = 'purchase' THEN 'c'
              ELSE 'x' END AS ch,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
s AS (
  SELECT user_id, string_agg(ch, '' ORDER BY rn) AS str
  FROM c GROUP BY user_id
),
m AS (
  SELECT c.user_id, c.rn AS start_rn, c.ts AS path_start,
         length(regexp_extract(substr(s.str, CAST(c.rn AS INT)),
                               '^a*b+c'))
           AS match_len
  FROM c JOIN s USING (user_id)
)
SELECT m.user_id, CAST(m.start_rn AS INT) AS start_rn,
       CAST(m.match_len AS INT) AS match_len,
       CAST(m.path_start AS TIMESTAMP) AS path_start,
       CAST(e.ts AS TIMESTAMP) AS path_end
FROM m
JOIN c e ON e.user_id = m.user_id AND e.rn = m.start_rn + m.match_len - 1
WHERE m.match_len > 0
ORDER BY m.user_id, start_rn
"""


@query("seq_matchpath_optional_lead", oracle=_OPTLEAD_ORACLE)
def seq_matchpath_optional_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatchPath with a min-0 FIRST atom over an UNBOUNDED chain:
    ``view*.click+.purchase`` — a purchase preceded by one-or-more
    consecutive clicks, optionally led by a view run; a match begins
    at EVERY row of the qualifying run (the anchor may sit on a view
    or directly on a click). The island walk takes it by widening
    candidates to the UNION of variant first groups and gating each
    variant on the candidate row's own group id — char-sets are
    disjoint, so exactly one variant family applies per row and the
    coalesce preference order is intact. Unbounded quantifiers keep
    this pattern off the lead chain: pure window expressions, no
    Python stage (pinned in test_matchpath_compile.py). Reference
    surface: hive-exec-2.3.10-core.jar!ql/udf/ptf/MatchPath.class. The
    DuckDB oracle anchors the identical greedy regex at every row, so
    the value hash verifies match starts, greedy lengths, AND end
    timestamps."""
    ev = load(spark, sf_dir, "events")
    out = matchpath(
        ev,
        partition_by="user_id",
        order_by=["ts", "event_id"],
        symbols={
            "view": F.col("event_type") == "view",
            "click": F.col("event_type") == "click",
            "purchase": F.col("event_type") == "purchase",
        },
        pattern="view*.click+.purchase",
    )
    return out.orderBy("user_id", "start_rn")


# ---------------------------------------------------------------------------
# the SQL-callable npath surface: a PTF-call parser in front of
# matchpath(), so a SQL caller gets the same island-walk / lead-chain
# JVM plans the DataFrame API compiles to
# ---------------------------------------------------------------------------

_NPATH_KEYWORDS = (
    "ON",
    "PARTITION BY",
    "ORDER BY",
    "MAXROWS",
    "SYMBOLS",
    "PATTERN",
    "MEASURES",
)


def _npath_split(body: str) -> dict[str, str]:
    """Split an npath(...) call body into clause texts keyed by
    keyword. Keywords are recognized case-insensitively at paren depth
    0 outside single-quoted strings, so symbol expressions may contain
    parens, commas, and quoted literals freely. Literal boundaries
    (incl. backslash escapes and ``''`` doubling) come from the ONE
    shared scanner, materialized_views' :func:`_literal_mask`."""
    from hive_service_spark.operators.materialized_views import (
        _literal_mask,
    )

    low = body.lower()
    mask = _literal_mask(body)
    spans: list[tuple[str, int, int]] = []
    depth, i, n = 0, 0, len(body)
    while i < n:
        if mask[i]:
            i += 1
            continue
        ch = body[i]
        if ch == "(":
            depth += 1
            i += 1
            continue
        if ch == ")":
            depth -= 1
            i += 1
            continue
        boundary = i == 0 or not (body[i - 1].isalnum() or body[i - 1] == "_")
        if depth == 0 and boundary:
            for kw in _NPATH_KEYWORDS:
                k = kw.lower()
                j = i + len(k)
                if low.startswith(k, i) and (
                    j >= n or not (low[j].isalnum() or low[j] == "_")
                ):
                    spans.append((kw, i, j))
                    i = j
                    break
            else:
                i += 1
            continue
        i += 1
    out: dict[str, str] = {}
    for idx, (kw, _s, e) in enumerate(spans):
        nxt = spans[idx + 1][1] if idx + 1 < len(spans) else n
        if kw in out:
            raise ValueError(f"npath_sql: duplicate {kw} clause")
        out[kw] = body[e:nxt].strip()
    return out


def _collapse_ws(s: str) -> str:
    """Collapse whitespace runs to single spaces OUTSIDE single-quoted
    literals — a quoted string's exact bytes are part of the predicate
    (a blanket ``re.sub(r"\\s+", " ")`` would rewrite tabs/newlines
    inside SYMBOLS literals). Literal boundaries (incl. backslash
    escapes) come from the shared :func:`_literal_mask` scanner."""
    from hive_service_spark.operators.materialized_views import (
        _literal_mask,
    )

    mask = _literal_mask(s)
    out: list[str] = []
    pend_ws = False
    for i, ch in enumerate(s):
        if not mask[i] and ch.isspace():
            pend_ws = True
            continue
        if pend_ws:
            out.append(" ")
            pend_ws = False
        out.append(ch)
    return "".join(out)


def npath_sql(spark: SparkSession, call: str) -> DataFrame:
    """SQL entry point for MatchPath that reaches the COMPILED planner
    — the reference's PTF call shape (Teradata-style nPath, which
    hive-exec-2.3.10-core.jar!ql/udf/ptf/MatchPath.class models as
    ``npath(ON ... PARTITION BY ... ORDER BY ...)``) parsed into a
    matchpath() invocation, so compiled-class patterns run the
    Python-free island-walk / lead-chain JVM plans from SQL exactly as
    from the DataFrame API, and only genuinely irregular patterns fall
    back to the Arrow automaton. Grammar (whitespace-insensitive;
    keywords case-insensitive):

        npath(ON <table-or-(subquery)>
              PARTITION BY <key-column-or-expr AS name> [, ...]
              ORDER BY <col-or-expr> [ASC|DESC] [NULLS FIRST|LAST] [, ...]
              [MAXROWS <n>]
              SYMBOLS(<bool-sql-expr> AS <name> [, ...])
              PATTERN('<pattern>')
              [MEASURES(<agg-sql-expr> AS <name> [, ...])])

    ``PARTITION BY c1, c2, ...`` matches the reference PTF, which
    partitions on arbitrary column lists (hive-exec-2.3.10-core.jar!
    ql/parse/PTFInvocationSpec). An item may be an arbitrary
    EXPRESSION with a mandatory ``AS <name>`` (``CAST(ts AS DATE) AS
    day``) — the reference's PartitionExpression — pre-projected onto
    the relation before the identical key machinery runs; the alias is
    the output column name. A composite key is packed into ONE derived
    key (a struct of the columns for the compiled plans, its
    ``to_json`` string for the automaton; nulls kept, so distinct
    tuples stay distinct), matchpath runs on the packed key — same
    plans, same single key-shuffle — and the ORIGINAL columns ride back
    onto each match via matchpath's passthrough (they are constant
    within a partition, so the start-row value is exact). The packed
    key never appears in the output.

    ``path_start``/``path_end`` timestamps come from the FIRST ORDER BY
    column (the reference emits the matched rows' sort key the same
    way). ``ORDER BY`` items accept ``ASC``/``DESC`` and ``NULLS
    FIRST``/``NULLS LAST`` suffixes (the reference PTF's OrderSpec
    carries a per-column direction AND null ordering); a descending
    walk expresses latest-first patterns, and with ``MAXROWS`` the
    budget keeps each key's LATEST n rows (the prefix of the
    descending sort). ``MAXROWS n`` is the per-partition event budget
    made first-class in the SQL surface: the input is pre-passed
    through capped_user_prefix(n) — each key's EARLIEST n rows on the
    same sort — and every match carries the stamped
    ``user_capped`` flag via matchpath's passthrough. This is the
    bound that keeps an automaton-class (irregular) pattern from
    buffering a hot key's unbounded history in one Python worker;
    compiled-class patterns never leave the JVM regardless.

    ``MEASURES`` is the reference PTF's result-expression
    list (MatchPath's arg4 emits selected expressions over the matched
    row set): each aggregate SQL expression is evaluated over the rows
    of each match and appended after the 5 metadata columns, in
    declared order. Plan shape = seq_matchpath_measures': segments
    consume contiguous row numbers, so the matched set is ONE
    explode(sequence) + a (key, rn) equi-join back to the input rows +
    one groupBy per match — linear in matched rows. The equi-join is
    NULL-SAFE on the partition key, because the matching plans keep
    null-key partitions and plain equality would drop their matches.
    MEASURES requires the
    ORDER BY list to be a UNIQUE sort key within each partition: it
    re-numbers the input rows with an independent row_number on the
    same (key, order) sort, and a tie could be broken differently from
    the matching plan's internal numbering, attributing aggregates to
    the wrong rows. The requirement is ENFORCED: a lag over the
    numbering's own window poisons the row number with raise_error on
    the first duplicate sort tuple, so a tie fails loudly at run time
    instead of mis-attributing (append a tiebreaker column such as an
    event id, as every registered query here does).

    Whitespace runs outside quoted literals are normalized to single
    spaces; bytes INSIDE single-quoted literals are preserved
    verbatim."""
    # this surface's literal dialect is SINGLE-quoted (every internal
    # splitter/normalizer masks ' only); a double-quoted literal would
    # silently corrupt clause spans and have its interior whitespace
    # collapsed — refuse loudly instead
    from hive_service_spark.operators.materialized_views import (
        _literal_mask as _lm,
    )

    dq_mask = _lm(call)
    if any(ch == '"' and not dq_mask[i] for i, ch in enumerate(call)):
        raise ValueError(
            "npath_sql: double-quoted string literals are not supported "
            "in the call text — use single quotes"
        )
    s = _collapse_ws(call).strip()
    m = re.match(r"(?i)^npath\s*\(", s)
    if not m or not s.endswith(")"):
        raise ValueError("npath_sql: expected npath( ... )")
    clauses = _npath_split(s[m.end() : -1])
    missing = [
        kw
        for kw in ("ON", "PARTITION BY", "ORDER BY", "SYMBOLS", "PATTERN")
        if kw not in clauses
    ]
    if missing:
        raise ValueError(f"npath_sql: missing clause(s) {missing}")

    # shared with the MV rewriter's SELECT-list parser
    from hive_service_spark.operators.materialized_views import (
        _split_top_level,
    )

    part_items = [c for c in _split_top_level(clauses["PARTITION BY"]) if c]
    if not part_items:
        raise ValueError("npath_sql: PARTITION BY needs at least one item")
    # the reference PTF partitions on arbitrary EXPRESSIONS
    # (hive-exec!ql/parse/PTFInvocationSpec, PartitionExpression),
    # not only columns. A non-identifier item
    # must carry `AS <name>` — the name becomes the output column the
    # match rows report (the reference never emits the bare expression
    # either; the alias makes the surface explicit). Internally an
    # expression item is pre-projected onto the relation, then the
    # existing single/composite key machinery runs unchanged.
    part_cols: list[str] = []
    part_exprs: list[tuple[str, str]] = []  # (sql expr, output name)
    for item in part_items:
        if re.fullmatch(r"[A-Za-z_]\w*", item):
            part_cols.append(item)
            continue
        am = re.fullmatch(r"(?is)(.+?)\s+as\s+([A-Za-z_]\w*)", item)
        if not am:
            raise ValueError(
                "npath_sql: PARTITION BY item must be a plain column "
                f"or '<expr> AS <name>', got {item!r}"
            )
        part_cols.append(am.group(2))
        part_exprs.append((am.group(1), am.group(2)))
    if len(set(part_cols)) != len(part_cols):
        raise ValueError("npath_sql: duplicate PARTITION BY column")
    _META_NAMES = ("start_rn", "match_len", "path_start", "path_end",
                   "user_capped")
    clash = [c for c in part_cols if c in _META_NAMES]
    if clash:
        raise ValueError(
            f"npath_sql: PARTITION BY column(s) {clash} collide with "
            "npath output column names"
        )
    # double-underscore names are this surface's internal namespace
    # (__np_pk packed key, __pt* passthrough aliases, __mp_* measures
    # frames) — a user column there would be silently clobbered
    dunder = [c for c in part_cols if c.startswith("__")]
    if dunder:
        raise ValueError(
            f"npath_sql: PARTITION BY column(s) {dunder} use the "
            "reserved '__' prefix"
        )

    order = [c for c in _split_top_level(clauses["ORDER BY"]) if c]
    if not order:
        raise ValueError("npath_sql: ORDER BY needs at least one column")

    sym_txt = clauses["SYMBOLS"]
    if not (sym_txt.startswith("(") and sym_txt.endswith(")")):
        raise ValueError("npath_sql: SYMBOLS expects a parenthesized list")
    symbols: dict[str, Column] = {}
    for item in _split_top_level(sym_txt[1:-1]):
        am = re.fullmatch(r"(?is)(.+?)\s+as\s+([A-Za-z_]\w*)", item)
        if not am:
            raise ValueError(
                f"npath_sql: SYMBOLS item must be '<expr> AS <name>', "
                f"got {item!r}"
            )
        if am.group(2) in symbols:
            # a silent overwrite would re-classify rows with no error
            raise ValueError(
                f"npath_sql: duplicate symbol {am.group(2)!r}"
            )
        symbols[am.group(2)] = F.expr(am.group(1))

    pm = re.fullmatch(r"(?s)\(\s*'([^']+)'\s*\)", clauses["PATTERN"])
    if not pm:
        raise ValueError("npath_sql: PATTERN expects ('<pattern>')")
    pattern = pm.group(1)
    if "MAXROWS" in clauses and not re.fullmatch(
        r"\d+", clauses["MAXROWS"]
    ):
        raise ValueError("npath_sql: MAXROWS expects an integer")
    measures: list[tuple[str, str]] = []
    if "MEASURES" in clauses:
        meas_txt = clauses["MEASURES"]
        if not (meas_txt.startswith("(") and meas_txt.endswith(")")):
            raise ValueError(
                "npath_sql: MEASURES expects a parenthesized list"
            )
        for item in _split_top_level(meas_txt[1:-1]):
            am = re.fullmatch(r"(?is)(.+?)\s+as\s+([A-Za-z_]\w*)", item)
            if not am:
                raise ValueError(
                    "npath_sql: MEASURES item must be "
                    f"'<agg-expr> AS <name>', got {item!r}"
                )
            if any(n == am.group(2) for _, n in measures):
                raise ValueError(
                    f"npath_sql: duplicate measure {am.group(2)!r}"
                )
            if am.group(2) in _META_NAMES or am.group(2) in part_cols:
                # a measure aliased to an output column name would
                # emit two columns with one name
                raise ValueError(
                    f"npath_sql: measure name {am.group(2)!r} collides "
                    "with an npath output column"
                )
            measures.append((am.group(1), am.group(2)))

    # every clause validated — only now resolve the relation
    rel = clauses["ON"]
    df = (
        spark.sql(rel[1:-1])
        if rel.startswith("(") and rel.endswith(")")
        else spark.table(rel)
    )
    # the '__' internal namespace guard covers the RELATION's schema
    # too: an ON-relation column named __np_pk would be clobbered by
    # the composite-key withColumn, and __mp_rn_r / __mp_pk_r would be
    # duplicated inside the MEASURES row frame
    reserved = [c for c in df.columns if re.match(r"__(np_|mp_|pt)", c)]
    if reserved:
        raise ValueError(
            f"npath_sql: relation column(s) {reserved} use the "
            "reserved '__np_/__mp_/__pt' internal namespace — rename "
            "them in the ON subquery"
        )
    for expr_sql, name in part_exprs:
        if name in df.columns:
            raise ValueError(
                f"npath_sql: PARTITION BY alias {name!r} already names "
                "a relation column"
            )
        df = df.withColumn(name, F.expr(expr_sql))
    passthrough: tuple[str, ...] = ()
    if len(part_cols) == 1:
        part = part_cols[0]
    else:
        # composite PARTITION BY: pack into one collision-free derived
        # key and carry the original columns onto each match via
        # passthrough — constant within a partition, so the start-row
        # value is exact. Cost: one derived column through the same
        # single key-shuffle every plan already pays. Compiled classes
        # (asked of the shared _route, the same decision matchpath
        # itself makes) pack to a plain STRUCT — every JVM plan
        # partitions/compares structs natively, and the struct's
        # binary row layout shuffles ~half the bytes of the to_json
        # string (interleaved A/B on the key shuffle+sort stage:
        # 0.288 -> 0.205 s median at sf0.1). Only the Arrow automaton,
        # whose pandas groupby needs a hashable key, pays the JSON
        # serialization (to_json keeps distinct tuples distinct, nulls
        # included).
        part = "__np_pk"
        packed = F.struct(*part_cols)
        if _route(pattern, compile_pattern(pattern, symbols)[0])[0] == (
            "automaton"
        ):
            packed = F.to_json(packed, {"ignoreNullFields": "false"})
        df = df.withColumn(part, packed)
        passthrough = tuple(part_cols)
    # direction-aware sort keys, shared by the budget pre-pass and
    # the MEASURES re-numbering so every stage sorts identically to
    # the matching plan
    order_keys = [
        _order_key(_sort_col(e, c), d, nl)
        for c, (e, d, nl) in zip(
            order, (_split_order_suffix(c) for c in order)
        )
    ]
    if "MAXROWS" in clauses:
        from hive_service_spark.operators.sequence_analytics import (
            capped_user_prefix,
        )

        df = capped_user_prefix(
            df,
            int(clauses["MAXROWS"]),
            key=part,
            order_cols=tuple(order_keys),
        )
        passthrough = passthrough + ("user_capped",)

    out = matchpath(
        df,
        partition_by=part,
        order_by=order,
        symbols=symbols,
        pattern=pattern,
        ts_col=order[0],
        passthrough=passthrough,
    )

    def _finish(res: DataFrame) -> DataFrame:
        # composite key: the packed key is internal — emit the original
        # columns first (where the single-key surface puts its key)
        if len(part_cols) == 1:
            return res
        rest = [
            c for c in res.columns if c != part and c not in part_cols
        ]
        return res.select(*part_cols, *rest)

    if not measures:
        return _finish(out)
    # MEASURES: aggregates over each match's rows. Segments consume
    # CONTIGUOUS row numbers, so the matched set is rn IN [start_rn,
    # start_rn + match_len) — one explode(sequence) + a (key, rn)
    # equi-join back to the input rows (numbered on the same
    # (key, order) sort) + one groupBy per match; linear in matched
    # rows, reusing the same shuffle family. The key equality is
    # NULL-SAFE: the matching plans keep null-key partitions, so
    # MEASURES must not silently drop their matches.
    from pyspark.sql import Window

    w = Window.partitionBy(part).orderBy(*order_keys)
    # the MEASURES contract — the ORDER BY list must be a UNIQUE sort
    # key per partition — is ENFORCED: a tie lets this independent
    # row_number break differently from the matching plan's internal
    # numbering, silently attributing aggregates to wrong rows. The
    # check rides the SAME window as the numbering (lag of the sort
    # tuple; zero extra exchange) and poisons the row number with
    # raise_error on the first duplicate tuple, so it runs wherever
    # the numbering runs and costs one comparison per row.
    ord_tuple = F.struct(
        *[
            _sort_col(e, c)
            for c, (e, _d, _n) in zip(
                order, (_split_order_suffix(c) for c in order)
            )
        ]
    )
    rows_f = (
        df.select(
            "*",
            F.row_number().over(w).alias("__mp_rn0"),
            F.lag(ord_tuple).over(w).alias("__mp_prev_o"),
            ord_tuple.alias("__mp_cur_o"),
        )
        .withColumn(
            "__mp_rn_r",
            F.when(
                F.col("__mp_prev_o").eqNullSafe(F.col("__mp_cur_o")),
                F.raise_error(
                    F.lit(
                        "npath_sql: MEASURES requires the ORDER BY list "
                        "to be a unique sort key within each partition; "
                        "found a duplicate sort tuple — append a "
                        "tiebreaker column (e.g. an event id)"
                    )
                ).cast("int"),
            ).otherwise(F.col("__mp_rn0")),
        )
        .drop("__mp_rn0", "__mp_prev_o", "__mp_cur_o")
    )
    # metadata columns (incl. user_capped and composite partition
    # columns) already live on `out`; drop their twins from the row
    # frame so the join output is unambiguous
    rows_f = rows_f.drop(
        *[c for c in out.columns if c != part and c in rows_f.columns]
    ).withColumnRenamed(part, "__mp_pk_r")
    meta = [c for c in out.columns]
    exp = out.select(
        "*",
        F.explode(
            F.sequence(
                F.col("start_rn"),
                F.col("start_rn") + F.col("match_len") - 1,
            )
        ).alias("__mp_rn"),
    )
    joined = exp.join(
        rows_f,
        F.col(part).eqNullSafe(F.col("__mp_pk_r"))
        & (F.col("__mp_rn") == F.col("__mp_rn_r")),
    )
    return _finish(
        joined.groupBy(*meta).agg(
            *[F.expr(e).alias(n) for e, n in measures]
        )
    )


@query("seq_npath_sql_compiled", oracle=_GENERAL_ORACLE)
def seq_npath_sql_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's npath is a SQL-callable partitioned table
    function (hive-exec-2.3.10-core.jar!ql/udf/ptf/MatchPath.class,
    registered as npath/matchpath); this entry calls it in that shape,
    ``npath(ON ... PARTITION BY ... ORDER BY ... SYMBOLS(...)
    PATTERN(...))``. It has the same ``view.view*.purchase`` contract
    as seq_matchpath_general and shares its oracle, so one value hash
    proves the SQL surface, the DataFrame operator and the DuckDB regex
    model agree. The pattern routes to the island walk, so the plan
    never leaves the JVM (plan pinned in test_matchpath_compile.py)."""
    load(spark, sf_dir, "events").createOrReplaceTempView(
        "npath_events_src"
    )
    out = npath_sql(
        spark,
        """
        npath(ON npath_events_src
              PARTITION BY user_id
              ORDER BY ts, event_id
              SYMBOLS(event_type = 'view' AS view,
                      event_type = 'purchase' AS purchase)
              PATTERN('view.view*.purchase'))
        """,
    )
    return out.orderBy("user_id", "start_rn")


# the per-user budget knob, read once at import by sequence_analytics
# (module-level import is cycle-safe: that module only imports this one
# inside function bodies)
from hive_service_spark.operators.sequence_analytics import (  # noqa: E402
    _USER_EVENT_CAP,
)

_NPATH_CAPPED_ORACLE = f"""
WITH r AS (
  SELECT user_id, ts, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_total
  FROM events
),
c AS (
  SELECT user_id, ts, event_id, rn,
         CASE WHEN event_type = 'signup' THEN 'a'
              WHEN event_type = 'view' THEN 'b'
              WHEN event_type = 'click' THEN 'c'
              ELSE 'x' END AS ch,
         CAST(CASE WHEN n_total > {_USER_EVENT_CAP} THEN 1 ELSE 0 END
              AS BIGINT) AS user_capped
  FROM r WHERE rn <= {_USER_EVENT_CAP}
),
s AS (
  SELECT user_id, string_agg(ch, '' ORDER BY rn) AS str
  FROM c GROUP BY user_id
),
m AS (
  SELECT c.user_id, c.rn AS start_rn, c.ts AS path_start, c.user_capped,
         length(regexp_extract(substr(s.str, CAST(c.rn AS INT)),
                               '^a(b|a)+c')) AS match_len
  FROM c JOIN s USING (user_id)
)
SELECT m.user_id, CAST(m.start_rn AS INT) AS start_rn,
       CAST(m.match_len AS INT) AS match_len,
       CAST(m.path_start AS TIMESTAMP) AS path_start,
       CAST(e.ts AS TIMESTAMP) AS path_end,
       m.user_capped
FROM m
JOIN c e ON e.user_id = m.user_id AND e.rn = m.start_rn + m.match_len - 1
WHERE m.match_len > 0
ORDER BY m.user_id, start_rn
"""


@query("seq_npath_sql_capped", oracle=_NPATH_CAPPED_ORACLE)
def seq_npath_sql_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The automaton-class SQL npath under the per-user budget:
    ``signup.(view|signup)+.click`` has
    an unbounded quantifier over an OVERLAPPING char-set ({signup} vs
    {view, signup}) — no island key, no finite lead depth — so it is
    genuinely the Arrow automaton's class, the exact shape whose
    hot-key partition used to buffer unbounded in one Python worker.
    The anchor atom keeps match-start density sane (the first draft
    used ``(view|click)+.click``, where nearly EVERY row is a
    candidate start and the per-start greedy backtracking turns O(L^2)
    on every a/b-run — 13 s at sf0.1 for semantics nobody asks for;
    starts at signups price the same automaton machinery honestly).
    ``MAXROWS {cap}`` in the SQL call pre-passes the input through
    capped_user_prefix on the same sort: the automaton never sees more
    than the budget per user, and each match carries the stamped
    user_capped flag via matchpath's passthrough — value-oracled
    against the DuckDB regex model over the identical capped
    prefix."""
    load(spark, sf_dir, "events").createOrReplaceTempView(
        "npath_events_src"
    )
    out = npath_sql(
        spark,
        f"""
        npath(ON (SELECT user_id, ts, event_id, event_type
                  FROM npath_events_src)
              PARTITION BY user_id
              ORDER BY ts, event_id
              MAXROWS {_USER_EVENT_CAP}
              SYMBOLS(event_type = 'signup' AS signup,
                      event_type = 'view' AS view,
                      event_type = 'click' AS click)
              PATTERN('signup.(view|signup)+.click'))
        """,
    )
    return out.orderBy("user_id", "start_rn")


@query("seq_npath_sql_measures", oracle=_MEASURES_ORACLE)
def seq_npath_sql_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURES through the SQL npath surface: the reference PTF's
    arg4 is a RESULT-EXPRESSION list — selected
    expressions emitted over each match's rows (hive-exec-2.3.10-core
    .jar!ql/udf/ptf/MatchPath.class, e.g. tpath.size / sum over the
    path) — so the SQL call shape needs it too, not just the
    DataFrame-API composition (seq_matchpath_measures). Same pattern,
    same two cent aggregates, SHARING seq_matchpath_measures' oracle:
    one value hash proves the SQL MEASURES clause, the DataFrame
    composition, and the DuckDB regex+join model all agree. Matches
    come from the compiled island walk (Python-free); the
    measures join is the same explode(sequence) + (key, rn) equi-join
    plan, built once inside npath_sql."""
    load(spark, sf_dir, "events").createOrReplaceTempView(
        "npath_events_src"
    )
    out = npath_sql(
        spark,
        """
        npath(ON npath_events_src
              PARTITION BY user_id
              ORDER BY ts, event_id
              SYMBOLS(event_type = 'view' AS view,
                      event_type = 'purchase' AS purchase)
              PATTERN('view.view*.purchase')
              MEASURES(
                CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                     AS BIGINT) AS path_value_cents,
                CAST(MAX(CAST(ROUND(value * 100, 0) AS BIGINT))
                     AS BIGINT) AS max_event_cents))
        """,
    )
    return out.orderBy("user_id", "start_rn")


# ---------------------------------------------------------------------------
# composite PARTITION BY through the SQL npath surface (the reference
# PTF partitions on arbitrary column lists), and MAXROWS x MEASURES in
# one call
# ---------------------------------------------------------------------------

_MULTIKEY_ORACLE = """
WITH c AS (
  SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
         ts, event_id,
         CASE WHEN event_type = 'view' THEN 'a'
              WHEN event_type = 'purchase' THEN 'b'
              ELSE 'x' END AS ch,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn
  FROM events
),
s AS (
  SELECT user_id, day, string_agg(ch, '' ORDER BY rn) AS str
  FROM c GROUP BY user_id, day
),
m AS (
  SELECT c.user_id, c.day, c.rn AS start_rn, c.ts AS path_start,
         length(regexp_extract(substr(s.str, CAST(c.rn AS INT)),
                               '^aa*b')) AS match_len
  FROM c JOIN s USING (user_id, day)
)
SELECT m.user_id, CAST(m.day AS TIMESTAMP) AS day,
       CAST(m.start_rn AS INT) AS start_rn,
       CAST(m.match_len AS INT) AS match_len,
       CAST(m.path_start AS TIMESTAMP) AS path_start,
       CAST(e.ts AS TIMESTAMP) AS path_end
FROM m
JOIN c e ON e.user_id = m.user_id AND e.day = m.day
        AND e.rn = m.start_rn + m.match_len - 1
WHERE m.match_len > 0
ORDER BY m.user_id, day, start_rn
"""


@query("seq_npath_sql_multikey", oracle=_MULTIKEY_ORACLE)
def seq_npath_sql_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite ``PARTITION BY user_id, day`` through the SQL npath
    surface: the reference PTF partitions on arbitrary column lists
    (hive-exec-2.3.10-core.jar!ql/parse/PTFInvocationSpec —
    PartitionSpec holds a list of PartitionExpression). Semantics: the
    session-per-day clickstream cut — ``view.view*.purchase`` matched
    WITHIN each (user, calendar day), so a path spanning midnight is
    two partitions, not one match. Spark-first shape: the pattern
    routes to the island walk, so the composite key packs into one
    struct of the two columns (nulls kept), the plan stays Python-free
    on that key — one key-shuffle exactly as the single-key plan — and
    the original columns ride back via matchpath's passthrough
    (constant per partition). At 100 TB the finer key only HELPS skew:
    the hot user's history splits across days."""
    load(spark, sf_dir, "events").createOrReplaceTempView(
        "npath_events_src"
    )
    out = npath_sql(
        spark,
        """
        npath(ON (SELECT user_id,
                         CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
                         ts, event_id, event_type
                  FROM npath_events_src)
              PARTITION BY user_id, day
              ORDER BY ts, event_id
              SYMBOLS(event_type = 'view' AS view,
                      event_type = 'purchase' AS purchase)
              PATTERN('view.view*.purchase'))
        """,
    )
    return out.orderBy("user_id", "day", "start_rn")


@query("seq_npath_sql_expr_partition", oracle=_MULTIKEY_ORACLE)
def seq_npath_sql_expr_partition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION BY on an EXPRESSION, directly in the call:
    ``PARTITION BY user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS
    day`` — the reference PTF's PartitionExpression
    (hive-exec-2.3.10-core.jar!ql/parse/PTFInvocationSpec) without the
    pre-projected subquery seq_npath_sql_multikey uses. The expression
    is pre-projected internally, then the identical composite-key plan
    runs (packed struct key, one key-shuffle, originals back via
    passthrough) — proven by SHARING
    seq_npath_sql_multikey's oracle: one value hash pins that the
    inline-expression surface and the subquery form produce
    byte-identical results."""
    load(spark, sf_dir, "events").createOrReplaceTempView(
        "npath_events_src"
    )
    out = npath_sql(
        spark,
        """
        npath(ON (SELECT user_id, ts, event_id, event_type
                  FROM npath_events_src)
              PARTITION BY user_id,
                           CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day
              ORDER BY ts, event_id
              SYMBOLS(event_type = 'view' AS view,
                      event_type = 'purchase' AS purchase)
              PATTERN('view.view*.purchase'))
        """,
    )
    return out.orderBy("user_id", "day", "start_rn")


_NPATH_CAPPED_MEASURES_ORACLE = f"""
WITH r AS (
  SELECT user_id, ts, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_total
  FROM events
),
c AS (
  SELECT user_id, ts, event_id, rn,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS v_c,
         CASE WHEN event_type = 'signup' THEN 'a'
              WHEN event_type = 'view' THEN 'b'
              WHEN event_type = 'click' THEN 'c'
              ELSE 'x' END AS ch,
         CAST(CASE WHEN n_total > {_USER_EVENT_CAP} THEN 1 ELSE 0 END
              AS BIGINT) AS user_capped
  FROM r WHERE rn <= {_USER_EVENT_CAP}
),
s AS (
  SELECT user_id, string_agg(ch, '' ORDER BY rn) AS str
  FROM c GROUP BY user_id
),
m AS (
  SELECT c.user_id, c.rn AS start_rn, c.ts AS path_start, c.user_capped,
         length(regexp_extract(substr(s.str, CAST(c.rn AS INT)),
                               '^a(b|a)+c')) AS match_len
  FROM c JOIN s USING (user_id)
  WHERE length(regexp_extract(substr(s.str, CAST(c.rn AS INT)),
               '^a(b|a)+c')) > 0
)
SELECT m.user_id, CAST(m.start_rn AS INT) AS start_rn,
       CAST(m.match_len AS INT) AS match_len,
       CAST(m.path_start AS TIMESTAMP) AS path_start,
       CAST(MAX(CASE WHEN e.rn = m.start_rn + m.match_len - 1
                     THEN e.ts END) AS TIMESTAMP) AS path_end,
       m.user_capped,
       CAST(SUM(e.v_c) AS BIGINT) AS path_value_cents
FROM m
JOIN c e ON e.user_id = m.user_id
        AND e.rn BETWEEN m.start_rn AND m.start_rn + m.match_len - 1
GROUP BY m.user_id, m.start_rn, m.match_len, m.path_start, m.user_capped
ORDER BY m.user_id, start_rn
"""


@query(
    "seq_npath_sql_capped_measures",
    oracle=_NPATH_CAPPED_MEASURES_ORACLE,
)
def seq_npath_sql_capped_measures(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MAXROWS x MEASURES together in ONE call — the cell that
    matters is whether the MEASURES
    join-back sees the CAPPED row numbering (it must: npath_sql
    re-numbers the same capped frame matchpath consumed, so a match's
    [start_rn, start_rn + match_len) range indexes into the budgeted
    prefix, never the raw history). Same automaton-class pattern and
    budget as seq_npath_sql_capped, plus a per-match cent sum; the
    oracle extends the capped DuckDB regex model with the identical
    rn-range join over the capped prefix — one value hash proves the
    cap, the passthrough flag, and the measures numbering all
    compose."""
    load(spark, sf_dir, "events").createOrReplaceTempView(
        "npath_events_src"
    )
    out = npath_sql(
        spark,
        f"""
        npath(ON (SELECT user_id, ts, event_id, event_type, value
                  FROM npath_events_src)
              PARTITION BY user_id
              ORDER BY ts, event_id
              MAXROWS {_USER_EVENT_CAP}
              SYMBOLS(event_type = 'signup' AS signup,
                      event_type = 'view' AS view,
                      event_type = 'click' AS click)
              PATTERN('signup.(view|signup)+.click')
              MEASURES(
                CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                     AS BIGINT) AS path_value_cents))
        """,
    )
    return out.orderBy("user_id", "start_rn")


_DESC_ORACLE = """
WITH c AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'view' THEN 'a'
              WHEN event_type = 'purchase' THEN 'b'
              ELSE 'x' END AS ch,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
s AS (
  SELECT user_id, string_agg(ch, '' ORDER BY rn) AS str
  FROM c GROUP BY user_id
),
m AS (
  SELECT c.user_id, c.rn AS start_rn, c.ts AS path_start,
         length(regexp_extract(substr(s.str, CAST(c.rn AS INT)),
                               '^ba+')) AS match_len
  FROM c JOIN s USING (user_id)
)
SELECT m.user_id, CAST(m.start_rn AS INT) AS start_rn,
       CAST(m.match_len AS INT) AS match_len,
       CAST(m.path_start AS TIMESTAMP) AS path_start,
       CAST(e.ts AS TIMESTAMP) AS path_end
FROM m
JOIN c e ON e.user_id = m.user_id
        AND e.rn = m.start_rn + m.match_len - 1
WHERE m.match_len > 0
ORDER BY m.user_id, start_rn
"""


@query("seq_npath_sql_desc", oracle=_DESC_ORACLE)
def seq_npath_sql_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESC order through the npath surface: the reference PTF's
    OrderSpec carries a per-column sort direction (hive-exec
    -2.3.10-core.jar!ql/parse/PTFInvocationSpec). The latest-first
    walk: ``purchase.view+`` over ``ORDER BY ts DESC, event_id DESC``
    finds each purchase followed (going backward in time) by the run
    of views that led to it — the attribution-style read of the same
    clickstream. start_rn numbers rows in the DESCENDING order
    (start_rn 1 = the user's latest event), path_start is the
    purchase's timestamp, path_end the earliest view's. It runs on
    the island walk (two disjoint atoms, final ``+``): the only
    change at any scale is the sort direction inside the one
    key-shuffle — Python-free, plan identical in shape to the ASC
    twin. Value-oracled against the DuckDB regex model over the
    identically reversed numbering."""
    load(spark, sf_dir, "events").createOrReplaceTempView(
        "npath_events_src"
    )
    out = npath_sql(
        spark,
        """
        npath(ON npath_events_src
              PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC
              SYMBOLS(event_type = 'purchase' AS purchase,
                      event_type = 'view' AS view)
              PATTERN('purchase.view+'))
        """,
    )
    return out.orderBy("user_id", "start_rn")
