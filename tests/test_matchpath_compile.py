"""compile_pattern unit tests — the round-2 verdict's latent
wrong-answer bug: with >=25 symbols the old 'x'-skip assigned the same
char to two symbols, silently cross-matching their pattern elements.

Plus the three MatchPath plans (lead chain, island walk, automaton)
and the one routing rule between them (``_route``). Every routed
pattern is differentially tested against the anchored-regex reference
model (the Python automaton's exact semantics), including the
backtracking shapes (a.b*.b) — segment merging turns the regex's
give-back into island arithmetic.
"""

from __future__ import annotations

import pytest

from hive_service_spark.operators.matchpath import (
    _INF,
    _chain_variants,
    _route,
    compile_pattern,
)

_ABC = {"a": "a", "b": "b", "c": "c"}


def test_symbol_chars_unique_at_26_symbols():
    names = [f"s{i}" for i in range(26)]
    chars, _ = compile_pattern("s0.s25", names)
    assert len(set(chars.values())) == 26
    assert "x" not in chars.values()


def test_symbol_chars_unique_at_51_and_cap():
    names = [f"s{i}" for i in range(51)]
    chars, _ = compile_pattern("s0", names)
    assert len(set(chars.values())) == 51
    with pytest.raises(ValueError, match="too many symbols"):
        compile_pattern("s0", [f"s{i}" for i in range(52)])


def test_regex_source_uses_assigned_chars():
    chars, rx = compile_pattern("up.down*.up", ["up", "down", "flat"])
    assert rx == chars["up"] + chars["down"] + "*" + chars["up"]


def test_unknown_symbol_raises():
    with pytest.raises(ValueError, match="unknown symbol"):
        compile_pattern("up.bogus", ["up", "down"])


# ---------------------------------------------------------------------------
# round 8: literal quantified chains compile to a pure JVM plan
# ---------------------------------------------------------------------------


def _mp(spark, rows, pattern, symbols_of):
    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import matchpath

    df = spark.createDataFrame(
        [
            (u, i, sym)
            for u, seq in rows
            for i, sym in enumerate(seq)
        ],
        "user_id bigint, pos bigint, sym string",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("pos") * 1_000_000).alias("ts"),
        "pos",
        "sym",
    )
    out = matchpath(
        df,
        partition_by="user_id",
        order_by=["pos"],
        symbols=symbols_of(F),
        pattern=pattern,
    )
    return sorted(
        (r["user_id"], r["start_rn"], r["match_len"]) for r in out.collect()
    )


def _pysim(rows, pattern_regex, classify):
    """Reference model: per-sequence symbol string + anchored regex at
    every position (the Python automaton's exact semantics)."""
    import re as _re

    rx = _re.compile(pattern_regex)
    out = []
    for u, seq in rows:
        s = "".join(classify(x) for x in seq)
        for i in range(len(s)):
            m = rx.match(s, i)
            if m and m.end() > i:
                out.append((u, i + 1, m.end() - i))
    return sorted(out)


_CHAIN_SYMS = lambda F: {  # noqa: E731
    "a": F.col("sym") == "A",
    "b": F.col("sym") == "B",
    "c": F.col("sym") == "C",
}


def _classify(x):
    return {"A": "a", "B": "b", "C": "c"}.get(x, "x")


def test_jvm_chain_matches_automaton_semantics(spark):
    """Exhaustive equivalence over every 6-symbol sequence on
    {A, B, C, other} for the routed chain shapes — quantifier sweep,
    self-island starts (x == y), AND the give-back shapes (z == y)
    that the 3-symbol rewrite had to exclude."""
    import itertools

    rows = [
        (i, list(seq))
        for i, seq in enumerate(
            itertools.product("ABCX", repeat=6)
        )
    ]

    for pattern, rx in (
        ("a.b*.c", "ab*c"),
        ("a.a*.b", "aa*b"),
        ("a.b+.c", "ab+c"),
        ("a.a+.b", "aa+b"),
        ("a.b?.c", "ab?c"),
        ("a.a?.b", "aa?b"),
        ("a.b*.b", "ab*b"),  # give-back: segment-merged, now JVM
        ("a.b+.b", "ab+b"),
        ("a.a*.a", "aa*a"),  # single-segment chain
        ("a.b.c", "abc"),  # plain chain (island lengths must be 1)
        ("a.b*.c.b.a", "ab*cba"),  # repeated non-adjacent symbol
        ("a.b*.c?.b.a", "ab*c?ba"),  # co-consumption via ? skip
        ("a.b?.c*.b+.a", "ab?c*b+a"),  # mixed quantifier chain
        ("a.b+", "ab+"),  # trailing quantifier (round-8 relaxation)
        ("a.b*", "ab*"),
        ("a.b?", "ab?"),
        ("a.a*", "aa*"),  # trailing quantifier merging into the start
        ("a.b*.c+", "ab*c+"),
    ):
        got = _mp(spark, rows, pattern, _CHAIN_SYMS)
        want = _pysim(rows, rx, _classify)
        assert got == want, f"pattern {pattern} diverges from {rx}"


def test_jvm_chain_fuzz_random_sequences(spark):
    """Deterministic fuzz: 60 random (pattern, corpus) draws over
    longer sequences than the exhaustive sweep can afford. Patterns
    are random routed chains; sequences are length-12 strings skewed
    toward repeated runs (the island-arithmetic stress case)."""
    import random

    rnd = random.Random(8)
    pats = []
    while len(pats) < 12:
        n = rnd.randint(2, 5)
        toks = [rnd.choice("abc")]
        for _ in range(n - 1):
            toks.append(rnd.choice("abc"))
        # quantifiers anywhere except the first token (trailing included)
        quants = ["1"] + [rnd.choice("1*+?") for _ in range(n - 1)]
        pat = ".".join(
            t + {"1": ""}.get(q, q) for t, q in zip(toks, quants)
        )
        if _route(pat, _ABC)[0] == "chain":
            pats.append((pat, "".join(
                t + {"1": ""}.get(q, q) for t, q in zip(toks, quants)
            )))
    for pi, (pattern, rx) in enumerate(pats):
        rows = [
            (u, [rnd.choice("AABBBCX") for _ in range(12)])
            for u in range(200)
        ]
        got = _mp(spark, rows, pattern, _CHAIN_SYMS)
        want = _pysim(rows, rx, _classify)
        assert got == want, f"fuzz {pi}: pattern {pattern} diverges"


def test_jvm_alternation_and_bounded_match_regex(spark):
    """Round-9 widening: alternation-group atoms, bounded quantifiers,
    and min>=1 quantified first atoms — exhaustive equivalence over
    every 6-symbol sequence on {A, B, C, other}, same harness as the
    round-8 sweep."""
    import itertools

    rows = [
        (i, list(seq))
        for i, seq in enumerate(itertools.product("ABCX", repeat=6))
    ]

    for pattern, rx in (
        ("a.(b|c).a", "a(b|c)a"),
        ("a.(b|c)+.a", "a(b|c)+a"),
        ("a.(b|c)*.a", "a(b|c)*a"),
        ("(b|c).a", "(b|c)a"),
        ("a.(b|c)?.a", "a(b|c)?a"),
        ("a.(b|c).(b|c).a", "a(b|c)(b|c)a"),  # same-set merge (2,2)
        ("a.(b|c)+", "a(b|c)+"),  # trailing group quantifier
        ("(b|c)+.a", "(b|c)+a"),  # quantified first group
        ("a.b{2}.c", "ab{2}c"),
        ("a.b{2,3}.c", "ab{2,3}c"),
        ("a.b{0,2}.c", "ab{0,2}c"),
        ("a.b{2,}.c", "ab{2,}c"),
        ("a{2}.b", "a{2}b"),
        ("a+.b", "a+b"),
        ("a{2,}.b+", "a{2,}b+"),
        ("a.(b|c){2,}.a", "a(b|c){2,}a"),
        ("a.a{1,2}.b", "aa{1,2}b"),  # bounded merge into start (2,3)
        ("a.b{1,2}.b{2,3}.c", "ab{1,2}b{2,3}c"),  # bounded+bounded
        # unbounded chains with bounded middles: the island walk
        ("a.b{2,3}.c+", "ab{2,3}c+"),
        ("a*.b{1,2}.c", "a*b{1,2}c"),
        # bounded FINAL segments: the lead chain when finite, the
        # automaton when another atom is unbounded
        ("a.b{2}", "ab{2}"),
        ("a.b{2,3}", "ab{2,3}"),
        ("a{2,3}", "a{2,3}"),  # single bounded segment
        ("b{1,2}", "b{1,2}"),
        ("a.(b|c){2,3}", "a(b|c){2,3}"),  # bounded group final
        ("a.b?.b{1,2}", "ab?b{1,2}"),  # optional merging into final
        ("a.b{1,2}.b", "ab{1,2}b"),  # give-back onto a bounded final
        ("a.b*.c{2,4}", "ab*c{2,4}"),
    ):
        got = _mp(spark, rows, pattern, _CHAIN_SYMS)
        want = _pysim(rows, rx, _classify)
        assert got == want, f"pattern {pattern} diverges from {rx}"


def test_widened_chain_class_compiles_without_python(spark):
    """The new classes must actually take the JVM path, not silently
    fall back — and the overlapping-set case must NOT take it."""
    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import matchpath
    from hive_service_spark.plans import inspect as P

    df = spark.createDataFrame(
        [(1, 0, "A"), (1, 1, "B"), (1, 2, "C")],
        "user_id bigint, pos bigint, sym string",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("pos") * 1_000_000).alias("ts"),
        "pos",
        "sym",
    )

    def plan_of(pattern):
        out = matchpath(
            df,
            partition_by="user_id",
            order_by=["pos"],
            symbols=_CHAIN_SYMS(F),
            pattern=pattern,
        )
        return P.formatted_plan(out)

    # markers of an actual Python execution stage (the local
    # createDataFrame source itself mentions "PythonRDD", so the bare
    # substring "Python" would false-positive here; the registered-
    # query pin reads parquet and keeps the broad check)
    py_markers = ("FlatMapGroupsInPandas", "ArrowEval", "BatchEval", "MapInPandas")
    for pattern in (
        "a.(b|c)+.a",  # alternation group
        "a.b{2,4}.c",  # bounded quantifier
        "a+.b",  # quantified first atom
        "a.(b|c){2,}.a",  # bounded group
        "a.b{2,3}",  # bounded FINAL segment (finite: lead chain)
        "a{2,3}",  # single bounded segment
        "a.b?.b{1,2}",  # merge into a bounded final
        # OVERLAPPING sets with finite bounds: the lead chain
        "a.(a|b).c",
        "(a|b){1,2}.(b|c){1,2}",
        "a.(a|b)?.b{1,2}",
        # min-0 FIRST atoms ride the island walk (variants gated on
        # the row's own group id), even unbounded
        "a*.b",
        "a{0,3}.b+",
        "(a|b)*.c",
        # nested groups / sequence alternation / top-level
        # alternation with finite bounds: the lead chain
        "a.(b.c|c){1,2}",
        "(a.b|c).a",
        "a.b|b.c",
        "(a.(b|c)){1,2}",
    ):
        plan = plan_of(pattern)
        for marker in py_markers:
            assert marker not in plan, f"{pattern} fell back:\n{plan[:400]}"

    # what remains on the automaton: an UNBOUNDED quantifier outside
    # the disjoint flat-chain class — over an overlapping set (no
    # finite lead depth, no island key) or over a nested group (the
    # repeated unit spans islands) — and an unbounded chain whose
    # final segment is bounded. The automaton is batch-sliced
    # mapInPandas, so its plan marker is MapInPandas.
    for pattern in (
        "a.(b|c)*.c",
        "(a|b)+.b",
        "(a.b)+.c",
        "(a.b|c)*.a",
        "a.b*.c{2,3}",
    ):
        plan = plan_of(pattern)
        assert "MapInPandas" in plan, (
            f"{pattern} must route to the automaton"
        )


def test_jvm_overlap_leadchain_matches_regex(spark):
    """Round-10 widening: OVERLAPPING char-sets with finite bounds
    compile to the lead-chain plan — exhaustive equivalence over every
    6-symbol sequence on {A, B, C, other}, same harness as the round-8
    and round-9 sweeps. Shapes cover: literal/group overlap, subset
    sets, same set repeated, min-0 middles, bounded finals, and the
    give-back compositions where an earlier segment must stop short."""
    import itertools

    rows = [
        (i, list(seq))
        for i, seq in enumerate(itertools.product("ABCX", repeat=6))
    ]

    for pattern, rx in (
        ("a.(a|b).c", "a(a|b)c"),
        ("a.(a|b).a", "a(a|b)a"),
        ("(a|b).(b|c)", "(a|b)(b|c)"),
        ("(a|b){1,2}.(b|c){1,2}", "(a|b){1,2}(b|c){1,2}"),
        ("(a|b){1,3}.b", "(a|b){1,3}b"),  # subset final: give-back
        ("a.(a|b){1,2}.b", "a(a|b){1,2}b"),
        ("(a|b|c){2,4}.(a|b)", "(a|b|c){2,4}(a|b)"),
        ("a.(a|b)?.b", "a(a|b)?b"),  # min-0 overlap middle
        ("a.(a|b){0,2}.c", "a(a|b){0,2}c"),
        ("b.(b|c).(c|a)?", "b(b|c)(c|a)?"),  # min-0 overlap FINAL
        ("(b|c){2}.(a|c){1,2}", "(b|c){2}(a|c){1,2}"),
        ("a.(a|b).(b|c).(c|a)", "a(a|b)(b|c)(c|a)"),
        ("b{1,2}.(a|b){1,2}", "b{1,2}(a|b){1,2}"),  # literal vs super-set
        ("a.b.(a|b){1,3}", "ab(a|b){1,3}"),
    ):
        got = _mp(spark, rows, pattern, _CHAIN_SYMS)
        want = _pysim(rows, rx, _classify)
        assert got == want, f"pattern {pattern} diverges from {rx}"


def test_jvm_overlap_fuzz_random_sequences(spark):
    """Deterministic fuzz over the lead chain's overlap class: random
    chains whose atoms draw from ARBITRARY (non-disjoint) subsets of
    {a, b, c} with bounded quantifiers only, verified against the
    anchored-regex model on run-skewed length-12 sequences."""
    import random

    rnd = random.Random(10)
    cells = [("a",), ("b",), ("c",), ("a", "b"), ("b", "c"), ("a", "c"),
             ("a", "b", "c")]
    quants = ["", "?", "{2}", "{1,2}", "{0,2}", "{2,3}", "{1,3}"]
    pats = []
    tries = 0
    while len(pats) < 14 and tries < 4000:
        tries += 1
        n = rnd.randint(2, 4)
        toks = [rnd.choice(cells) for _ in range(n)]
        qs = [rnd.choice(quants) for _ in range(n)]
        parts = []
        for t, q in zip(toks, qs):
            atom = t[0] if len(t) == 1 else "(" + "|".join(t) + ")"
            parts.append(atom + q)
        pattern = ".".join(parts)
        # only keep genuinely OVERLAPPING draws (the disjoint ones are
        # fuzzed above) that route to the lead chain
        distinct = {frozenset(t) for t in toks}
        if all(x == y or not (x & y) for x in distinct for y in distinct):
            continue
        if _route(pattern, _ABC)[0] != "lead":
            continue
        rx = "".join(
            (t[0] if len(t) == 1 else "(" + "|".join(t) + ")") + q
            for t, q in zip(toks, qs)
        )
        pats.append((pattern, rx))
    assert len(pats) >= 10, "fuzz generator starved"
    for pi, (pattern, rx) in enumerate(pats):
        rows = [
            (u, [rnd.choice("AABBBCX") for _ in range(12)])
            for u in range(150)
        ]
        got = _mp(spark, rows, pattern, _CHAIN_SYMS)
        want = _pysim(rows, rx, _classify)
        assert got == want, f"fuzz {pi}: pattern {pattern} diverges"


def test_jvm_widened_fuzz_random_sequences(spark):
    """Deterministic fuzz over the island walk: random chains whose
    atoms draw from a random disjoint partition of {a, b, c}, whose
    quantifiers include the bounded forms, and which route to the
    island walk, verified against the anchored-regex model on
    run-skewed length-12 sequences."""
    import random

    rnd = random.Random(9)
    partitions = [
        [("a",), ("b",), ("c",)],
        [("a",), ("b", "c")],
        [("a", "b"), ("c",)],
        [("a", "c"), ("b",)],
    ]
    quants = ["", "*", "+", "?", "{2}", "{1,2}", "{0,2}", "{2,}", "{2,3}"]
    pats = []
    tries = 0
    while len(pats) < 14 and tries < 4000:
        tries += 1
        cells = rnd.choice(partitions)
        n = rnd.randint(2, 4)
        toks = [rnd.choice(cells) for _ in range(n)]
        qs = [rnd.choice(quants) for _ in range(n)]
        parts = []
        for t, q in zip(toks, qs):
            atom = t[0] if len(t) == 1 else "(" + "|".join(t) + ")"
            parts.append(atom + q)
        pattern = ".".join(parts)
        if _route(pattern, _ABC)[0] != "chain":
            continue
        rx = "".join(
            (t[0] if len(t) == 1 else "(" + "|".join(t) + ")") + q
            for t, q in zip(toks, qs)
        )
        pats.append((pattern, rx))
    assert len(pats) >= 10, "fuzz generator starved"
    for pi, (pattern, rx) in enumerate(pats):
        rows = [
            (u, [rnd.choice("AABBBCX") for _ in range(12)])
            for u in range(150)
        ]
        got = _mp(spark, rows, pattern, _CHAIN_SYMS)
        want = _pysim(rows, rx, _classify)
        assert got == want, f"fuzz {pi}: pattern {pattern} diverges"


# every registered matchpath()/npath_sql entry: (pattern, plan class)
_REGISTERED_ROUTES = {
    "seq_matchpath_general": ("view.view*.purchase", "chain"),
    "seq_matchpath_measures": ("view.view*.purchase", "chain"),
    "seq_matchpath_capped": ("view.view*.purchase", "chain"),
    "seq_npath_sql_compiled": ("view.view*.purchase", "chain"),
    "seq_npath_sql_measures": ("view.view*.purchase", "chain"),
    "seq_npath_sql_multikey": ("view.view*.purchase", "chain"),
    "seq_npath_sql_expr_partition": ("view.view*.purchase", "chain"),
    "script_npath_session": ("view.view*.purchase", "chain"),
    "seq_matchpath_chain4": ("signup.view*.click+.purchase", "chain"),
    "seq_matchpath_optional_lead": ("view*.click+.purchase", "chain"),
    "seq_npath_sql_desc": ("purchase.view+", "chain"),
    "seq_matchpath_alternation": (
        "signup.(view|click){1,3}.purchase", "lead",
    ),
    "seq_matchpath_overlap": (
        "signup.(view|click){1,2}.(click|purchase){1,2}", "lead",
    ),
    "seq_matchpath_nested": (
        "signup.(view.click|click){1,2}.purchase", "lead",
    ),
    "seq_npath_sql_capped": ("signup.(view|signup)+.click", "automaton"),
    "seq_npath_sql_capped_measures": (
        "signup.(view|signup)+.click", "automaton",
    ),
}


def _route4(pattern):
    return _route(pattern, {"a": "a", "b": "b", "c": "c", "d": "d"})


def test_chain_detection_and_fallback_scope():
    """The one routing rule (stated on matchpath()): a finite pattern
    within the lead caps takes the lead chain; otherwise a flat chain
    of disjoint charset atoms with at most 6 min-0 atoms, whose every
    variant ends in a segment of max 1 or unbounded, takes the island
    walk; everything else the automaton."""
    from hive_service_spark.operators.matchpath import _LEAD_MAX_K

    route = _route4
    for pattern, want in (
        # unbounded flat chains: the island walk
        ("a.b*.c", "chain"),
        ("a.(b|c)*.d", "chain"),  # a flat alternation group is one atom
        ("a{2,}.b", "chain"),
        ("a+.b", "chain"),  # min>=1 quantified first atom
        ("a*.b", "chain"),  # min-0 first atom: variants gated per group
        ("a.b+", "chain"),  # trailing quantifier
        ("(b|c)+.a", "chain"),
        ("a?." * 6 + "b+", "chain"),  # 6 min-0 atoms: the gate's edge
        # finite patterns: the lead chain, whatever their shape
        ("(c|b).a", "lead"),
        ("a.b{2,4}.c", "lead"),
        ("a{2}.b", "lead"),
        ("a{0,3}.b", "lead"),
        ("a.(b).d", "lead"),  # a one-member group is its symbol
        ("a.b?.b", "lead"),
        ("a.b{2,3}", "lead"),  # bounded final
        ("b|a", "lead"),  # top-level alternation of symbols
        ("(a|b){1,1}", "lead"),
        ("a." + ".".join("b?" for _ in range(7)) + ".c", "lead"),
        # everything else: the automaton
        ("a.(b|c*).d", "automaton"),  # unbounded inside a group
        ("a.b{3,2}", "automaton"),  # inverted bounds: malformed
        ("(a|b)+.(b|c)", "automaton"),  # unbounded over overlapping sets
        ("(a|b){1,}.(b|c)", "automaton"),
        ("(a.b)+.c", "automaton"),  # unbounded nested group
        ("a?." * 7 + "b+", "automaton"),  # 7 min-0 atoms
        ("a.b*.c{2,3}", "automaton"),  # unbounded, bounded final
        (f"(a|b){{1,{_LEAD_MAX_K + 1}}}", "automaton"),  # K over the cap
        ("(a|b.c){1,5}", "automaton"),  # 62 branches, over the cap
        # 8^3 = 512 branches and K = 21 > 16, over overlapping sets
        ("(a|b){0,7}.(b|c){0,7}.(a|c){0,7}", "automaton"),
    ):
        assert route(pattern)[0] == want, pattern

    # island variants: give-back shapes merge into clean segments, and
    # group_of maps each member char onto its group's representative
    assert route("a.b*.b") == ("chain", (
        [[("a", 1, 1), ("b", 2, _INF)], [("a", 1, 1), ("b", 1, 1)]],
        {"a": "a", "b": "b"},
    ))
    assert route("a.(c|b)+.d")[1][1] == {"a": "a", "b": "b", "c": "b", "d": "d"}


def test_lead_compositions_order_and_gates():
    """The lead chain enumerates its branches in regex-backtracking
    (count-descending) order, dedupes equal offset signatures, and
    refuses unbounded or over-budget patterns (they route elsewhere)."""
    from hive_service_spark.operators.matchpath import _LEAD_MAX_K

    route = _route4
    ab = frozenset("ab")
    kind, (comps, k) = route("(a|b){1,2}.(b|c){1,2}")
    assert kind == "lead" and k == 4
    assert [
        "".join("1" if cs == ab else "2" for cs in comp) for comp in comps
    ] == ["1122", "112", "122", "12"]

    # same-set adjacency dedupes to distinct lengths only
    _, (comps, _) = route("(a|b){1,2}.(a|b){1,2}")
    assert [len(c) for c in comps] == [4, 3, 2]

    # unbounded / over-budget: not the lead chain
    assert route("(a|b)+.(b|c)")[0] != "lead"
    assert route("(a|b){1,}.(b|c)")[0] != "lead"
    assert route(f"(a|b){{1,{_LEAD_MAX_K + 1}}}")[0] != "lead"
    # 8^3 = 512 branches but K = 21 > 16
    assert route("(a|b){0,7}.(b|c){0,7}.(a|c){0,7}")[0] != "lead"
    assert route("(a|b){1,1}")[0] == "lead"


def test_route_table():
    """Pins the plan class of every registered matchpath/npath pattern
    to the routing rule stated on matchpath()."""
    import inspect

    from hive_service_spark.registry import load_all

    specs = load_all()
    registered = {
        n for n in specs if "matchpath" in n or "npath" in n
    } - {"seq_matchpath_funnel"}  # a fixed-LEAD window, not matchpath()
    assert set(_REGISTERED_ROUTES) == registered
    names = ["signup", "view", "click", "purchase"]
    for name, (pattern, want) in _REGISTERED_ROUTES.items():
        module = inspect.getmodule(inspect.unwrap(specs[name].fn))
        assert pattern in inspect.getsource(module), name
        assert _route(pattern, compile_pattern(pattern, names)[0])[0] == (
            want
        ), name


def test_variant_preference_is_regex_backtracking_order():
    a, b, c, d = (frozenset(x) for x in "abcd")
    v = _chain_variants([(a, 1, 1), (b, 0, _INF), (c, 0, 1), (d, 1, 1)])
    # all-present first, then the RIGHTMOST optional flips absent first
    assert [tuple("".join(cs) for cs, _, _ in segs) for segs in v] == [
        ("a", "b", "c", "d"),
        ("a", "b", "d"),
        ("a", "c", "d"),
        ("a", "d"),
    ]
    # present optionals merge into their same-charset neighbors
    # (finite patterns route to the lead chain, so these shapes reach
    # _chain_variants only directly)
    assert _chain_variants([(a, 1, 1), (b, 0, 1), (b, 1, 1)]) == [
        [(a, 1, 1), (b, 2, 2)],
        [(a, 1, 1), (b, 1, 1)],
    ]
    assert _chain_variants([(a, 1, 1), (a, 0, 1)]) == [
        [(a, 2, 2)],
        [(a, 1, 1)],
    ]


def test_jvm_min0_first_matches_regex(spark):
    """Round-10b widening #1: min-0 FIRST atoms ride the island walk
    (unbounded included) — exhaustive equivalence over every 6-symbol
    sequence on {A, B, C, other}. Shapes cover: unbounded and bounded
    optional leads, a lead merging into its own following atom
    (give-back across the anchor), multiple min-0 leads (three
    distinct start groups), and group leads."""
    import itertools

    rows = [
        (i, list(seq))
        for i, seq in enumerate(itertools.product("ABCX", repeat=6))
    ]

    for pattern, rx in (
        ("a*.b", "a*b"),
        ("a?.b.c", "a?bc"),
        ("a*.b+.c", "a*b+c"),
        ("(b|c)*.a", "(b|c)*a"),
        ("a{0,2}.b", "a{0,2}b"),
        ("a*.b*", "a*b*"),
        ("a?.a.b", "a?ab"),  # lead merges into its own atom
        ("a*.a", "a*a"),
        ("b{0,3}.a{1,2}", "b{0,3}a{1,2}"),  # bounded final + multi-start
        ("a?.b?.c", "a?b?c"),  # three start groups
        ("a*.b.a", "a*ba"),
    ):
        got = _mp(spark, rows, pattern, _CHAIN_SYMS)
        want = _pysim(rows, rx, _classify)
        assert got == want, f"pattern {pattern} diverges from {rx}"


def test_jvm_nested_ast_matches_regex(spark):
    """Round-10b widening #2: the FULL grammar with finite bounds —
    nested groups, alternation of sequences, top-level alternation —
    compiles to the lead-chain plan via the AST enumerator; exhaustive
    equivalence over every 6-symbol sequence on {A, B, C, other}.
    Shapes cover: mixed-length alternation branches (where branch
    PREFERENCE decides the emitted length), quantified nested groups,
    optional nested first atoms, and same-prefix branches."""
    import itertools

    rows = [
        (i, list(seq))
        for i, seq in enumerate(itertools.product("ABCX", repeat=6))
    ]

    for pattern, rx in (
        ("a.(b.c|c){1,2}", "a(bc|c){1,2}"),
        ("(a.b|c).a", "(ab|c)a"),
        ("(a.(b|c)){1,2}", "(a(b|c)){1,2}"),
        ("a.b|b.c", "ab|bc"),
        ("(a|b.c)?.a", "(a|bc)?a"),
        ("(a.b){2}", "(ab){2}"),
        ("(a.b?){1,2}.c", "(ab?){1,2}c"),
        ("((a|b).c){1,2}", "((a|b)c){1,2}"),
        ("a.(b|c.c){1,2}.a", "a(b|cc){1,2}a"),
        ("(a.b|b.a){1,2}", "(ab|ba){1,2}"),
        ("(a|a.a){1,2}", "(a|aa){1,2}"),  # same-char branches, dedup
        ("b.(c.a|a)?", "b(ca|a)?"),  # optional nested FINAL
        # top-level empty-match BARRIERS (the round-10b fuzz catch):
        # branches after a possible empty match are engine-unreachable
        ("(c?|a.b)", "(c?|ab)"),
        ("b?|a.b", "b?|ab"),
        ("(a{0,2}|b).c{0,1}", "(a{0,2}|b)c{0,1}"),
    ):
        got = _mp(spark, rows, pattern, _CHAIN_SYMS)
        want = _pysim(rows, rx, _classify)
        assert got == want, f"pattern {pattern} diverges from {rx}"


def test_enum_ast_order_and_gates():
    """The AST enumerator must reproduce the regex engine's DFS order
    over complete branch shapes — which count-descending enumeration
    does NOT for multi-alternative repeated units — and refuse
    unbounded or over-budget patterns."""
    from hive_service_spark.operators.matchpath import (
        _enum_ast,
        _parse_ast,
    )

    chars = {"a": "a", "b": "b", "c": "c"}

    def words(pattern):
        res = _enum_ast(_parse_ast(pattern), chars)
        assert res is not None
        comps, _ = res
        assert all(len(cs) == 1 for comp in comps for cs in comp)
        return ["".join(next(iter(cs)) for cs in comp) for comp in comps]

    # the engine tries [ab] (1 copy, stop) BEFORE [c, ab] (2 copies);
    # count-descending would put every 2-copy shape first
    assert words("(a.b|c){1,2}") == ["abab", "abc", "ab", "cab", "cc", "c"]
    # duplicates keep their FIRST (earlier shadows later)
    assert words("(a|a.a){1,2}") == ["aa", "aaa", "a", "aaaa"]
    # alternation of bare symbols collapses to ONE charset atom
    res = _enum_ast(_parse_ast("a.(b|c){1,2}"), chars)
    assert res is not None and len(res[0]) == 2  # not 6 branches
    assert res[0][0] == [
        frozenset("a"), frozenset("bc"), frozenset("bc"),
    ]
    # the EMPTY composition is a BARRIER, not a skip: the engine
    # returns the empty match there (which the automaton discards), so
    # every later branch is unreachable (round-10b fuzz catch)
    assert words("(c?|a)") == ["c"]  # the a-branch is dead code
    assert words("b?|a.b") == ["b"]
    # nested empty needs NO truncation: 'ab' stays enumerated but is
    # runtime-dead because comp 'a' (the c?-empty branch) precedes and
    # matches everywhere 'ab' would — first-match-wins absorbs it
    assert words("a.(c?|b)") == ["ac", "a", "ab"]
    assert _enum_ast(_parse_ast("(a{0,2}|b).c{0,1}"), chars) is not None
    # unbounded / over-budget -> None (stays on the automaton)
    assert _enum_ast(_parse_ast("(a.b)+.c"), chars) is None
    assert _enum_ast(_parse_ast("(a.b)*"), chars) is None
    assert _enum_ast(_parse_ast("a{17}"), chars) is None
    big = ".".join("(a.b|b.c|c.a)" for _ in range(8))  # 3^8 branches
    assert _enum_ast(_parse_ast(big), chars) is None


def test_parse_ast_scope():
    """Malformed input returns None; the flat forms parse to the same
    shapes the chain parser sees (charset collapse included)."""
    from hive_service_spark.operators.matchpath import _parse_ast

    assert _parse_ast("a.(b|c*.d") is None  # unbalanced group
    assert _parse_ast("a||b") is None  # empty branch
    assert _parse_ast("a.b)") is None  # trailing tokens
    assert _parse_ast("") is None
    assert _parse_ast("a.b{3,2}") is None  # inverted bounds
    assert _parse_ast("(b|c)") == ("sym", frozenset({"b", "c"}))
    assert _parse_ast("a.(b)") == (
        "seq", [("sym", frozenset({"a"})), ("sym", frozenset({"b"}))],
    )
    assert _parse_ast("a?") == ("quant", ("sym", frozenset({"a"})), 0, 1)


def test_enum_ast_mass_fuzz_pure_python(monkeypatch):
    """No-Spark mass differential fuzz of the AST enumerator: ~2000
    random full-grammar patterns (nested groups, sequence alternation,
    min-0 atoms anywhere) against Python's re engine on random AND
    exhaustive strings, via the same first-composition-wins simulation
    the lead-chain plan executes. This is the harness that caught the
    round-10b empty-composition-barrier bug (an empty branch
    mid-preference-order makes the engine return an empty match — the
    automaton discards it — so later branches are unreachable; plain
    drop-the-empties emitted them)."""
    import itertools
    import random
    import re as _re

    import hive_service_spark.operators.matchpath as _mp
    from hive_service_spark.operators.matchpath import (
        _enum_ast,
        _parse_ast,
    )

    # the fuzz tests the ENUMERATOR's branch-order semantics, not the
    # cost cap (round 11 tightened _LEAD_MAX_COMPS to the measured 32)
    # — raise the cap locally so wide patterns keep their differential
    # coverage
    monkeypatch.setattr(_mp, "_LEAD_MAX_COMPS", 512)

    chars = {"a": "a", "b": "b", "c": "c"}
    rnd = random.Random(42)
    quants = ["", "?", "{1,2}", "{2}", "{0,2}", "{1,3}", "{2,3}", "{0,1}"]

    def unit(depth):
        if depth == 0 or rnd.random() < 0.45:
            return rnd.choice("abc") + rnd.choice(quants)
        brs = [
            ".".join(unit(depth - 1) for _ in range(rnd.randint(1, 3)))
            for _ in range(rnd.randint(2, 3))
        ]
        return "(" + "|".join(brs) + ")" + rnd.choice(quants)

    def sim_comps(comps, s):
        out = []
        for i in range(len(s)):
            for comp in comps:
                if i + len(comp) <= len(s) and all(
                    s[i + j] in cs for j, cs in enumerate(comp)
                ):
                    out.append((i, len(comp)))
                    break
        return out

    def sim_re(rx, s):
        out = []
        for i in range(len(s)):
            m = rx.match(s, i)
            if m and m.end() > i:
                out.append((i, m.end() - i))
        return out

    n_tested = 0
    for _ in range(6000):
        pat = ".".join(unit(2) for _ in range(rnd.randint(1, 3)))
        ast = _parse_ast(pat)
        if ast is None:
            continue
        res = _enum_ast(ast, chars)
        if res is None:
            continue
        comps, _ = res
        rx = _re.compile(pat.replace(".", ""))
        n_tested += 1
        for _ in range(6):
            s = "".join(
                rnd.choice("aabbbcx") for _ in range(rnd.randint(0, 14))
            )
            assert sim_comps(comps, s) == sim_re(rx, s), (pat, s)
    # exhaustive short strings over a subset
    for _ in range(200):
        pat = ".".join(unit(2) for _ in range(rnd.randint(1, 2)))
        ast = _parse_ast(pat)
        if ast is None:
            continue
        res = _enum_ast(ast, chars)
        if res is None:
            continue
        comps, _ = res
        rx = _re.compile(pat.replace(".", ""))
        for tup in itertools.product("abx", repeat=5):
            s = "".join(tup)
            assert sim_comps(comps, s) == sim_re(rx, s), (pat, s)
    assert n_tested >= 1500, "fuzz generator starved"


def test_jvm_nested_fuzz_random_sequences(spark):
    """Deterministic fuzz over the round-10b AST class: random
    patterns with nested groups / sequence alternation whose AST is
    not a flat chain (so only the lead chain can take them), verified
    against the anchored-regex model on run-skewed length-12
    sequences."""
    import random

    from hive_service_spark.operators.matchpath import (
        _enum_ast,
        _flat_atoms,
        _parse_ast,
    )

    rnd = random.Random(11)
    chars = {"a": "a", "b": "b", "c": "c"}
    quants = ["", "?", "{1,2}", "{2}", "{0,2}", "{1,3}"]

    def unit(depth):
        if depth == 0 or rnd.random() < 0.5:
            return rnd.choice("abc") + rnd.choice(quants)
        n_br = rnd.randint(2, 3)
        brs = [
            ".".join(unit(0) for _ in range(rnd.randint(1, 2)))
            for _ in range(n_br)
        ]
        return "(" + "|".join(brs) + ")" + rnd.choice(quants)

    pats = []
    tries = 0
    while len(pats) < 14 and tries < 6000:
        tries += 1
        pattern = ".".join(unit(1) for _ in range(rnd.randint(1, 3)))
        ast = _parse_ast(pattern)
        if ast is None or _flat_atoms(ast, chars) is not None:
            continue  # the flat classes, already fuzzed
        if _enum_ast(ast, chars) is None:
            continue
        rx = pattern.replace(".", "")
        pats.append((pattern, rx))
    assert len(pats) >= 10, "fuzz generator starved"
    for pi, (pattern, rx) in enumerate(pats):
        rows = [
            (u, [rnd.choice("AABBBCX") for _ in range(12)])
            for u in range(150)
        ]
        got = _mp(spark, rows, pattern, _CHAIN_SYMS)
        want = _pysim(rows, rx, _classify)
        assert got == want, f"fuzz {pi}: pattern {pattern} diverges"


def test_registered_matchpath_plans_have_no_python_stage(spark):
    """Both registered matchpath chain queries compile — their
    physical plans must contain NO Python/Arrow stage (round-7 advice
    #4, extended round 8 to the general chain class)."""
    from hive_service_spark.plans import inspect as P
    from hive_service_spark.registry import load_all
    from tests.conftest import SF_DIR

    for name in (
        "seq_matchpath_general",
        "seq_matchpath_chain4",
        "seq_matchpath_alternation",
        "seq_matchpath_overlap",
        "seq_matchpath_capped",
        "seq_matchpath_measures",
        "seq_matchpath_nested",
        "seq_matchpath_optional_lead",
        # round 11: the SQL call surface routed through the compiled
        # planner must be exactly as Python-free as the DataFrame API
        "seq_npath_sql_compiled",
        # and the SQL MEASURES clause keeps the compiled match plan +
        # a JVM explode/join — still zero Python
        "seq_npath_sql_measures",
    ):
        df = load_all()[name].fn(spark, SF_DIR)
        plan = P.formatted_plan(df)
        for marker in ("Python", "Arrow", "Pandas"):
            assert marker not in plan, (
                f"{name}: {marker} stage in plan:\n{plan[:600]}"
            )


def test_irregular_pattern_still_exact_via_python_path(spark):
    """An alternation pattern must still be answered (by the Python
    automaton) and match the regex model, proving the fallback isn't
    dead code now that the chain class covers the old exclusions."""
    import itertools

    rows = [
        (i, list(seq))
        for i, seq in enumerate(itertools.product("ABCX", repeat=5))
    ]

    got = _mp(spark, rows, "a.(b|c)*.c", _CHAIN_SYMS)
    want = _pysim(rows, "a(b|c)*c", _classify)
    assert got == want


def test_passthrough_rides_all_three_plans(spark):
    """Round 11 (verdict #2): ``passthrough`` columns are carried onto
    each output row valued from the match's START row — on the island
    walk, the lead-chain plan, AND the automaton fallback — so a flag
    an upstream pass stamped (capped_user_prefix's user_capped) never
    forces a second corpus scan. Differential check: a per-row tag
    must equal the tag of the row start_rn points at."""
    import itertools

    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import matchpath

    rows = [
        (i, list(seq))
        for i, seq in enumerate(itertools.product("ABX", repeat=5))
    ]
    df = spark.createDataFrame(
        [
            (u, i, sym, u * 100 + i)
            for u, seq in rows
            for i, sym in enumerate(seq)
        ],
        "user_id bigint, pos bigint, sym string, tag bigint",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("pos") * 1_000_000).alias("ts"),
        "pos",
        "sym",
        "tag",
    )
    for pattern, rx in (
        ("a.a*.b", "aa*b"),  # island walk
        ("a.(a|b){1,2}", "a(a|b){1,2}"),  # lead chain (overlap)
        ("(a|b)+.b", "(a|b)+b"),  # automaton (unbounded overlap)
    ):
        out = matchpath(
            df,
            partition_by="user_id",
            order_by=["pos"],
            symbols=_CHAIN_SYMS(F),
            pattern=pattern,
            passthrough=("tag",),
        )
        got = sorted(
            (r["user_id"], r["start_rn"], r["match_len"], r["tag"])
            for r in out.collect()
        )
        # _pysim returns (u, start_rn, len); start row's tag is
        # u*100 + (start_rn - 1)
        want = sorted(
            (u, srn, ln, u * 100 + (srn - 1))
            for (u, srn, ln) in _pysim(rows, rx, _classify)
        )
        assert got == want, f"pattern {pattern}: passthrough diverges"


# ---------------------------------------------------------------------------
# round 11: the SQL npath surface (npath_sql parser + budget semantics)
# ---------------------------------------------------------------------------


def test_npath_sql_parser_errors(spark):
    from hive_service_spark.operators.matchpath import npath_sql

    with pytest.raises(ValueError, match="expected npath"):
        npath_sql(spark, "SELECT 1")
    with pytest.raises(ValueError, match="missing clause"):
        npath_sql(spark, "npath(ON t PARTITION BY u ORDER BY ts)")
    with pytest.raises(ValueError, match="MAXROWS expects an integer"):
        npath_sql(
            spark,
            "npath(ON t PARTITION BY u ORDER BY ts MAXROWS lots "
            "SYMBOLS(a = 1 AS a) PATTERN('a'))",
        )
    with pytest.raises(ValueError, match="duplicate ON"):
        npath_sql(
            spark,
            "npath(ON t ON t2 PARTITION BY u ORDER BY ts "
            "SYMBOLS(a = 1 AS a) PATTERN('a'))",
        )
    with pytest.raises(ValueError, match="expr> AS <name"):
        npath_sql(
            spark,
            "npath(ON t PARTITION BY u ORDER BY ts "
            "SYMBOLS(a = 1) PATTERN('a'))",
        )
    with pytest.raises(ValueError, match="duplicate symbol"):
        npath_sql(
            spark,
            "npath(ON t PARTITION BY u ORDER BY ts "
            "SYMBOLS(a = 1 AS s, a = 2 AS s) PATTERN('s'))",
        )
    with pytest.raises(ValueError, match="agg-expr> AS <name"):
        npath_sql(
            spark,
            "npath(ON t PARTITION BY u ORDER BY ts "
            "SYMBOLS(a = 1 AS s) PATTERN('s') MEASURES(sum(v)))",
        )
    with pytest.raises(ValueError, match="duplicate measure"):
        npath_sql(
            spark,
            "npath(ON t PARTITION BY u ORDER BY ts "
            "SYMBOLS(a = 1 AS s) PATTERN('s') "
            "MEASURES(sum(v) AS m, max(v) AS m))",
        )


def test_npath_sql_matches_dataframe_operator(spark):
    """npath_sql over a subquery, with symbol expressions containing
    top-level-comma traps (IN lists, function calls), must produce the
    same matches as the DataFrame operator — and keywords inside
    quoted literals must not confuse the clause splitter."""
    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import matchpath, npath_sql

    df = spark.createDataFrame(
        [
            (u, i, sym)
            for u, seq in [
                (1, "AABX"),
                (2, "ABBB"),
                (3, "XBAB"),
                (4, "AAAB"),
            ]
            for i, sym in enumerate(seq)
        ],
        "user_id bigint, pos bigint, sym string",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("pos") * 1_000_000).alias("ts"),
        "pos",
        "sym",
    )
    df.createOrReplaceTempView("npath_parser_probe")
    out = npath_sql(
        spark,
        """
        npath(ON (SELECT user_id, ts, pos, sym
                  FROM npath_parser_probe)
              PARTITION BY user_id
              ORDER BY pos
              SYMBOLS(sym IN ('A', 'ON') AS a,
                      coalesce(sym, 'PATTERN') = 'B' AS b)
              PATTERN('a.a*.b'))
        """,
    )
    want = matchpath(
        df,
        partition_by="user_id",
        order_by=["pos"],
        symbols={"a": F.col("sym") == "A", "b": F.col("sym") == "B"},
        pattern="a.a*.b",
        ts_col="pos",
    )
    got = sorted(
        (r["user_id"], r["start_rn"], r["match_len"]) for r in out.collect()
    )
    exp = sorted(
        (r["user_id"], r["start_rn"], r["match_len"]) for r in want.collect()
    )
    assert got == exp and got  # non-empty and identical


def test_automaton_group_carry_across_arrow_batches(spark):
    """Round 11: the mapInPandas automaton slices key groups inside
    each Arrow batch and CARRIES a boundary-straddling group into the
    next batch. Gate-scale partitions fit one batch, so force the
    boundary: shrink maxRecordsPerBatch below the group size and
    check exact equivalence with the regex model — a dropped or
    duplicated carry row shifts start_rn/match_len immediately."""
    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import matchpath

    rows = [
        (u, [["A", "B", "X"][(u + i) % 3] for i in range(25)])
        for u in range(40)
    ]
    df = spark.createDataFrame(
        [
            (u, i, sym)
            for u, seq in rows
            for i, sym in enumerate(seq)
        ],
        "user_id bigint, pos bigint, sym string",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("pos") * 1_000_000).alias("ts"),
        "pos",
        "sym",
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        # 7 rows per batch << 25 rows per user: every group straddles
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        out = matchpath(
            df,
            partition_by="user_id",
            order_by=["pos"],
            symbols=_CHAIN_SYMS(F),
            pattern="(a|b)+.b",  # automaton class (unbounded overlap)
        )
        got = sorted(
            (r["user_id"], r["start_rn"], r["match_len"])
            for r in out.collect()
        )
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )
    want = _pysim(rows, "(a|b)+b", _classify)
    assert got == want and got


def test_automaton_keeps_null_partition_keys(spark):
    """Round-11 review finding: pandas groupby drops NaN keys by
    default and NaN != NaN defeats the carry mask — the batch
    automaton must keep a NULL partition key as a group like any
    other (the JVM plans do: Spark windows keep null partitions).
    Sized so one null-key group ends EXACTLY on an Arrow batch
    boundary, exercising the flush-on-new-key path too."""
    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import matchpath

    seqs = {
        None: ["A", "B", "A", "B", "A", "B"],  # 6 rows = 2 batches of 3
        7: ["A", "A", "B", "X", "A", "B"],
        8: ["B", "A", "A", "B", "B", "X"],
    }
    df = spark.createDataFrame(
        [
            (u, i, sym)
            for u, seq in seqs.items()
            for i, sym in enumerate(seq)
        ],
        "user_id bigint, pos bigint, sym string",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("pos") * 1_000_000).alias("ts"),
        "pos",
        "sym",
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
        out = matchpath(
            df,
            partition_by="user_id",
            order_by=["pos"],
            symbols=_CHAIN_SYMS(F),
            pattern="(a|b)+.b",  # automaton class
        )
        key = lambda t: (t[0] is not None, t[0] or 0, t[1], t[2])  # noqa: E731
        got = sorted(
            (
                (r["user_id"], r["start_rn"], r["match_len"])
                for r in out.collect()
            ),
            key=key,
        )
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )
    want = sorted(
        (
            (u, i + 1, ln)
            for u, seq in seqs.items()
            for (_, i1, ln) in _pysim([(0, seq)], "(a|b)+b", _classify)
            for i in [i1 - 1]
        ),
        key=key,
    )
    assert got == want
    assert any(u is None for u, _, _ in got), "null-key matches missing"


def test_npath_sql_preserves_quoted_literal_whitespace(spark):
    """Round-11 review finding: the call parser's whitespace
    normalization must not rewrite bytes inside single-quoted
    literals — a predicate comparing against 'a\\tb' (or any multi-
    space literal) must survive verbatim."""
    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import npath_sql

    df = spark.createDataFrame(
        [(1, 0, "a\tb"), (1, 1, "a b"), (1, 2, "END")],
        "user_id bigint, pos bigint, note string",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("pos") * 1_000_000).alias("ts"),
        "pos",
        "note",
    )
    df.createOrReplaceTempView("npath_ws_probe")
    out = npath_sql(
        spark,
        """
        npath(ON npath_ws_probe
              PARTITION BY user_id
              ORDER BY pos
              SYMBOLS(note = 'a\tb' AS tabbed,
                      note = 'END' AS fin)
              PATTERN('tabbed.fin'))
        """,
    )
    rows = out.collect()
    # the tab literal must match ONLY row 0 — but rows 0,1 are not
    # adjacent to END, so assert via the symbol classification instead:
    # pattern tabbed.fin has no match (row 1 sits between), while a
    # collapsed literal ('a b') would match rows 1->2.
    assert rows == [], [tuple(r) for r in rows]


# ---------------------------------------------------------------------------
# round 12: composite PARTITION BY, null-key uniformity across plans,
# backslash-escaped quotes, null-safe MEASURES join
# ---------------------------------------------------------------------------


def test_npath_sql_composite_partition_errors(spark):
    from hive_service_spark.operators.matchpath import npath_sql

    # round 13: a bare expression is no longer a hard error, but it
    # MUST carry AS <name> (the output column the match rows report)
    with pytest.raises(ValueError, match="plain column or '<expr> AS"):
        npath_sql(
            spark,
            "npath(ON t PARTITION BY f(u) ORDER BY ts "
            "SYMBOLS(a = 1 AS a) PATTERN('a'))",
        )
    with pytest.raises(ValueError, match="duplicate PARTITION BY"):
        npath_sql(
            spark,
            "npath(ON t PARTITION BY u, u ORDER BY ts "
            "SYMBOLS(a = 1 AS a) PATTERN('a'))",
        )
    with pytest.raises(ValueError, match="collide with npath output"):
        npath_sql(
            spark,
            "npath(ON t PARTITION BY u, match_len ORDER BY ts "
            "SYMBOLS(a = 1 AS a) PATTERN('a'))",
        )


def test_npath_sql_composite_partition_matches(spark):
    """Composite PARTITION BY (round 12, verdict #3): matches must be
    found independently within each (u, grp) pair — including a NULL
    in one key column — and the output must carry the ORIGINAL key
    columns, not the packed internal key."""
    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import npath_sql

    seqs = {
        (1, "x"): "AAB",
        (1, "y"): "AB",
        (2, "x"): "ABB",
        (2, None): "AAB",  # null in one key column: its own partition
    }
    df = spark.createDataFrame(
        [
            (u, g, i, sym)
            for (u, g), seq in seqs.items()
            for i, sym in enumerate(seq)
        ],
        "u bigint, grp string, pos bigint, sym string",
    ).select(
        "u",
        "grp",
        F.timestamp_micros(F.col("pos") * 1_000_000).alias("ts"),
        "pos",
        "sym",
    )
    df.createOrReplaceTempView("npath_multikey_probe")
    out = npath_sql(
        spark,
        """
        npath(ON npath_multikey_probe
              PARTITION BY u, grp
              ORDER BY pos
              SYMBOLS(sym = 'A' AS a, sym = 'B' AS b)
              PATTERN('a.a*.b'))
        """,
    )
    assert out.columns[:2] == ["u", "grp"]
    assert "__np_pk" not in out.columns
    got = sorted(
        ((r["u"], r["grp"], r["start_rn"], r["match_len"]) for r in out.collect()),
        key=repr,
    )
    want = sorted(
        (
            (u, g, i1, ln)
            for (u, g), seq in seqs.items()
            for (_z, i1, ln) in _pysim([(0, list(seq))], "aa*b", _classify)
        ),
        key=repr,
    )
    assert got == want and any(g is None for _, g, _, _ in got)


def test_npath_sql_multikey_plan_is_python_free(spark):
    """The packed composite key must not knock the pattern off the
    compiled island walk — the registered multikey query's plan stays
    JVM-only (the key is packed as a struct)."""
    from hive_service_spark.plans import inspect as P
    from hive_service_spark.registry import load_all
    from tests.conftest import SF_DIR

    df = load_all()["seq_npath_sql_multikey"].fn(spark, SF_DIR)
    plan = P.formatted_plan(df)
    for marker in ("Python", "Arrow", "Pandas"):
        assert marker not in plan, f"{marker} stage in plan:\n{plan[:600]}"


def test_compiled_plans_keep_null_partition_keys(spark):
    """A NULL partition key is a group like any other: every plan
    class must agree with the regex model on a null-key group.
    Patterns chosen to route one per plan (island walk, lead chain,
    automaton), plus an unbounded chain with a bounded final segment,
    which runs on the automaton."""
    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import matchpath

    seqs = {None: "AABBB", 5: "AAB", 6: "BAB"}
    df = spark.createDataFrame(
        [
            (u, i, sym)
            for u, seq in seqs.items()
            for i, sym in enumerate(seq)
        ],
        "user_id bigint, pos bigint, sym string",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("pos") * 1_000_000).alias("ts"),
        "pos",
        "sym",
    )
    for pattern, rx in (
        ("a.a*.b", "aa*b"),  # island walk
        ("a.a*.b{2,3}", "aa*b{2,3}"),  # automaton (bounded final)
        ("a.(a|b){1,2}", "a(a|b){1,2}"),  # lead chain
        ("(a|b)+.b", "(a|b)+b"),  # automaton
    ):
        out = matchpath(
            df,
            partition_by="user_id",
            order_by=["pos"],
            symbols=_CHAIN_SYMS(F),
            pattern=pattern,
        )
        got = sorted(
            (
                (r["user_id"], r["start_rn"], r["match_len"])
                for r in out.collect()
            ),
            key=repr,
        )
        want = sorted(
            (
                (u, i1, ln)
                for u, seq in seqs.items()
                for (_z, i1, ln) in _pysim([(0, list(seq))], rx, _classify)
            ),
            key=repr,
        )
        assert got == want, f"pattern {pattern}: {got} != {want}"
        assert any(u is None for u, _, _ in got), (
            f"pattern {pattern}: null-key matches missing"
        )


def test_npath_sql_backslash_escaped_quote_literal(spark):
    """Round-12 ADVICE: Spark SQL's default parser accepts
    backslash-escaped quotes inside string literals — the clause
    splitter and whitespace normalizer must not treat \\' as the
    string terminator (which corrupted every clause after it)."""
    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import npath_sql

    df = spark.createDataFrame(
        [(1, 0, "it's"), (1, 1, "END"), (2, 0, "its"), (2, 1, "END")],
        "user_id bigint, pos bigint, note string",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("pos") * 1_000_000).alias("ts"),
        "pos",
        "note",
    )
    df.createOrReplaceTempView("npath_esc_probe")
    out = npath_sql(
        spark,
        r"""
        npath(ON npath_esc_probe
              PARTITION BY user_id
              ORDER BY pos
              SYMBOLS(note = 'it\'s' AS apo,
                      note = 'END' AS fin)
              PATTERN('apo.fin'))
        """,
    )
    got = sorted((r["user_id"], r["start_rn"]) for r in out.collect())
    assert got == [(1, 1)], got


def test_split_top_level_backslash_escape():
    """The shared splitter honors backslash escapes inside literals:
    a comma after an escaped quote is still INSIDE the string."""
    from hive_service_spark.operators.materialized_views import (
        _split_top_level,
    )

    assert _split_top_level(r"f(x) = 'a\',b', g") == [r"f(x) = 'a\',b'", "g"]
    # doubled-quote escaping still reads as close-then-reopen
    assert _split_top_level("x = 'a'',b', y") == ["x = 'a'',b'", "y"]
    # double backslash then quote really does end the string
    assert _split_top_level(r"x = 'a\\', y") == [r"x = 'a\\'", "y"]


def test_npath_sql_measures_keeps_null_partition_key(spark):
    """Round-12 ADVICE (medium): the MEASURES join-back is null-safe
    on the partition key — a null-key partition's matches must appear
    in MEASURES output with correct aggregates, matching the matching
    plans' deliberate null-key preservation."""
    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import npath_sql

    seqs = {None: "AAB", 3: "AB"}
    df = spark.createDataFrame(
        [
            (u, i, sym, 10 * (i + 1))
            for u, seq in seqs.items()
            for i, sym in enumerate(seq)
        ],
        "user_id bigint, pos bigint, sym string, v bigint",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("pos") * 1_000_000).alias("ts"),
        "pos",
        "sym",
        "v",
    )
    df.createOrReplaceTempView("npath_nullmeas_probe")
    out = npath_sql(
        spark,
        """
        npath(ON npath_nullmeas_probe
              PARTITION BY user_id
              ORDER BY pos
              SYMBOLS(sym = 'A' AS a, sym = 'B' AS b)
              PATTERN('a.a*.b')
              MEASURES(CAST(SUM(v) AS BIGINT) AS v_sum))
        """,
    )
    got = sorted(
        ((r["user_id"], r["start_rn"], r["match_len"], r["v_sum"])
         for r in out.collect()),
        key=repr,
    )
    # null key: AAB -> matches at 1 (len 3, v=10+20+30) and 2 (len 2,
    # v=20+30); key 3: AB -> match at 1 (len 2, v=10+20)
    want = sorted(
        [(None, 1, 3, 60), (None, 2, 2, 50), (3, 1, 2, 30)], key=repr
    )
    assert got == want, got


def test_split_order_suffix():
    from hive_service_spark.operators.matchpath import _split_order_suffix

    assert _split_order_suffix("ts") == ("ts", False, None)
    assert _split_order_suffix("ts DESC") == ("ts", True, None)
    assert _split_order_suffix("ts desc") == ("ts", True, None)
    assert _split_order_suffix("ts ASC") == ("ts", False, None)
    # a trailing keyword only — columns/calls containing the letters
    # are never misread
    assert _split_order_suffix("descr") == ("descr", False, None)
    assert _split_order_suffix("f(x) DESC") == ("f(x)", True, None)


def test_matchpath_desc_order_all_three_plans(spark):
    """Round 12: ORDER BY ... DESC walks each partition latest-first —
    equivalent to matching the ASC-reversed sequence. Differential
    against the regex model on reversed sequences, one pattern per
    plan class (island walk, lead chain, automaton)."""
    import itertools

    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import matchpath

    rows = [
        (i, list(seq))
        for i, seq in enumerate(itertools.product("ABX", repeat=5))
    ]
    df = spark.createDataFrame(
        [
            (u, i, sym)
            for u, seq in rows
            for i, sym in enumerate(seq)
        ],
        "user_id bigint, pos bigint, sym string",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("pos") * 1_000_000).alias("ts"),
        "pos",
        "sym",
    )
    reversed_rows = [(u, list(reversed(seq))) for u, seq in rows]
    for pattern, rx in (
        ("a.a*.b", "aa*b"),  # island walk
        ("a.(a|b){1,2}", "a(a|b){1,2}"),  # lead chain
        ("(a|b)+.b", "(a|b)+b"),  # automaton
    ):
        out = matchpath(
            df,
            partition_by="user_id",
            order_by=["pos DESC"],
            symbols=_CHAIN_SYMS(F),
            pattern=pattern,
        )
        got = sorted(
            (r["user_id"], r["start_rn"], r["match_len"])
            for r in out.collect()
        )
        want = _pysim(reversed_rows, rx, _classify)
        assert got == want, f"pattern {pattern} desc: {got[:5]}..."


def test_npath_sql_desc_with_maxrows_keeps_latest(spark):
    """DESC + MAXROWS: the budget keeps each key's LATEST n rows (the
    prefix of the descending sort), and matching runs on that
    suffix-of-history."""
    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import npath_sql

    # user 1: A A A B A B (pos 0..5). DESC order: B A B A A A.
    # MAXROWS 3 keeps pos 5,4,3 -> DESC seq B A B; pattern b.a matches
    # at start_rn 1 (pos 5 then pos 4) only.
    df = spark.createDataFrame(
        [(1, i, s) for i, s in enumerate("AAABAB")],
        "user_id bigint, pos bigint, sym string",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("pos") * 1_000_000).alias("ts"),
        "pos",
        "sym",
    )
    df.createOrReplaceTempView("npath_desc_probe")
    out = npath_sql(
        spark,
        """
        npath(ON npath_desc_probe
              PARTITION BY user_id
              ORDER BY pos DESC
              MAXROWS 3
              SYMBOLS(sym = 'A' AS a, sym = 'B' AS b)
              PATTERN('b.a'))
        """,
    )
    got = sorted(
        (r["user_id"], r["start_rn"], r["match_len"], r["user_capped"])
        for r in out.collect()
    )
    assert got == [(1, 1, 2, 1)], got


def test_passthrough_names_never_meet_plan_internals(spark):
    """Round-12 review: a passthrough (or composite-key) column named
    after a plan-internal working column (`rn`, `isl`, `_g`, ...) used
    to blow up as AMBIGUOUS_REFERENCE deep inside the island walk —
    passthrough now rides under reserved internal aliases and is
    renamed back on the way out, on all three plan classes."""
    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import matchpath, npath_sql

    df = spark.createDataFrame(
        [
            (u, g, i, sym)
            for (u, g), seq in {(1, "x"): "AAB", (2, "y"): "AB"}.items()
            for i, sym in enumerate(seq)
        ],
        "u bigint, rn string, pos bigint, sym string",  # key named rn!
    ).select(
        "u",
        "rn",
        F.timestamp_micros(F.col("pos") * 1_000_000).alias("ts"),
        "pos",
        "sym",
    )
    df.createOrReplaceTempView("npath_rn_probe")
    out = npath_sql(
        spark,
        """
        npath(ON npath_rn_probe
              PARTITION BY u, rn
              ORDER BY pos
              SYMBOLS(sym = 'A' AS a, sym = 'B' AS b)
              PATTERN('a.a*.b'))
        """,
    )
    got = sorted(
        (r["u"], r["rn"], r["start_rn"], r["match_len"])
        for r in out.collect()
    )
    assert got == [(1, "x", 1, 3), (1, "x", 2, 2), (2, "y", 1, 2)], got

    # the DataFrame surface too, one pattern per plan class
    for pattern in ("a.a*.b", "a.(a|b){1,2}", "(a|b)+.b"):
        res = matchpath(
            df,
            partition_by="u",
            order_by=["pos"],
            symbols={"a": F.col("sym") == "A", "b": F.col("sym") == "B"},
            pattern=pattern,
            ts_col="pos",
            passthrough=("rn",),
        )
        assert "rn" in res.columns and res.count() > 0, pattern


def test_npath_sql_reserved_and_measure_name_errors(spark):
    from hive_service_spark.operators.matchpath import npath_sql

    with pytest.raises(ValueError, match="reserved '__' prefix"):
        npath_sql(
            spark,
            "npath(ON t PARTITION BY u, __np_pk ORDER BY ts "
            "SYMBOLS(a = 1 AS a) PATTERN('a'))",
        )
    with pytest.raises(ValueError, match="collides with an npath output"):
        npath_sql(
            spark,
            "npath(ON t PARTITION BY u ORDER BY ts "
            "SYMBOLS(a = 1 AS s) PATTERN('s') "
            "MEASURES(sum(v) AS match_len))",
        )


def test_literal_mask_semantics():
    from hive_service_spark.operators.materialized_views import (
        _literal_mask,
    )

    s = r"a = 'x\'y', b"
    mask = _literal_mask(s)
    lit = "".join(c for c, m in zip(s, mask) if m)
    assert lit == r"'x\'y'"
    # '' doubling: both quote pairs masked, the gap char belongs to
    # the reopened literal
    s2 = "a = 'x''y', b"
    m2 = _literal_mask(s2)
    assert "".join(c for c, m in zip(s2, m2) if m) == "'x''y'"
    assert _literal_mask("no quotes") == [False] * 9


def test_split_order_suffix_nulls():
    from hive_service_spark.operators.matchpath import _split_order_suffix

    assert _split_order_suffix("ts NULLS LAST") == ("ts", False, "last")
    assert _split_order_suffix("ts desc nulls first") == ("ts", True, "first")
    assert _split_order_suffix("ts ASC NULLS LAST") == ("ts", False, "last")
    # trailing-keyword only: names containing the letters are untouched
    assert _split_order_suffix("nullscol") == ("nullscol", False, None)


def test_matchpath_nulls_ordering(spark):
    """NULLS FIRST/LAST in the order key changes where a null-key ROW
    sits in the walk — differential against the Python model with the
    same placement, on a compiled plan and the automaton."""
    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import matchpath

    # user 1: pos NULL row is a 'B'; non-null rows A(0) A(1).
    # NULLS LAST => sequence AAB (match at 1 len 3);
    # default ASC (nulls first) => BAA (no 'a.a*.b' match).
    rows = [(1, None, "B"), (1, 0, "A"), (1, 1, "A")]
    df = spark.createDataFrame(
        rows, "user_id bigint, pos bigint, sym string"
    ).select(
        "user_id",
        F.timestamp_micros(F.coalesce(F.col("pos"), F.lit(99)) * 1_000_000).alias("ts"),
        "pos",
        "sym",
    )
    # one pattern per plan class: island walk, lead chain, automaton
    for pattern in ("a.a*.b", "a.(a|b){1,2}", "(a|b)+.b"):
        last = matchpath(
            df,
            partition_by="user_id",
            order_by=["pos NULLS LAST"],
            symbols={"a": F.col("sym") == "A", "b": F.col("sym") == "B"},
            pattern=pattern,
            ts_col="ts",
        )
        got = sorted(
            (r["user_id"], r["start_rn"], r["match_len"])
            for r in last.collect()
        )
        assert (1, 1, 3) in got, (pattern, got)
        first = matchpath(
            df,
            partition_by="user_id",
            order_by=["pos"],  # default: nulls first
            symbols={"a": F.col("sym") == "A", "b": F.col("sym") == "B"},
            pattern=pattern,
            ts_col="ts",
        )
        got_f = sorted(
            (r["user_id"], r["start_rn"], r["match_len"])
            for r in first.collect()
        )
        assert (1, 1, 3) not in got_f, (pattern, got_f)


def _expr_partition_probe(spark):
    """(u, grp) sequences with a NULL key — shared by the round-13
    expression-partition tests."""
    import pyspark.sql.functions as F

    seqs = {
        (1, "x"): "AAB",
        (1, "y"): "AB",
        (2, "x"): "ABB",
        (2, None): "AAB",
    }
    df = spark.createDataFrame(
        [
            (u, g, i, sym)
            for (u, g), seq in seqs.items()
            for i, sym in enumerate(seq)
        ],
        "u bigint, grp string, pos bigint, sym string",
    ).select(
        "u",
        "grp",
        F.timestamp_micros(F.col("pos") * 1_000_000).alias("ts"),
        "pos",
        "sym",
    )
    df.createOrReplaceTempView("npath_exprkey_probe")
    return seqs


def test_npath_sql_expression_partition(spark):
    """Round 13 (r12 verdict #5): a PARTITION BY item may be an
    arbitrary expression with AS <name> — partitions form on the
    expression's VALUE (upper('x') == upper('x')), nulls keep their
    own partition, and the output reports the alias column."""
    from hive_service_spark.operators.matchpath import npath_sql

    seqs = _expr_partition_probe(spark)
    out = npath_sql(
        spark,
        """
        npath(ON npath_exprkey_probe
              PARTITION BY u, upper(grp) AS grp_u
              ORDER BY pos
              SYMBOLS(sym = 'A' AS a, sym = 'B' AS b)
              PATTERN('a.a*.b'))
        """,
    )
    assert out.columns[:2] == ["u", "grp_u"]
    got = sorted(
        ((r["u"], r["grp_u"], r["start_rn"], r["match_len"]) for r in out.collect()),
        key=repr,
    )
    want = sorted(
        (
            (u, g.upper() if g is not None else None, i1, ln)
            for (u, g), seq in seqs.items()
            for (_z, i1, ln) in _pysim([(0, list(seq))], "aa*b", _classify)
        ),
        key=repr,
    )
    assert got == want and any(g is None for _, g, _, _ in got)


def test_npath_sql_expression_partition_errors(spark):
    from hive_service_spark.operators.matchpath import npath_sql

    _expr_partition_probe(spark)
    # alias shadowing a relation column would silently clobber it
    with pytest.raises(ValueError, match="already names a relation"):
        npath_sql(
            spark,
            """
            npath(ON npath_exprkey_probe
                  PARTITION BY u, upper(grp) AS sym
                  ORDER BY pos
                  SYMBOLS(sym = 'A' AS a) PATTERN('a'))
            """,
        )
    # alias in the reserved output namespace
    with pytest.raises(ValueError, match="npath output column"):
        npath_sql(
            spark,
            """
            npath(ON npath_exprkey_probe
                  PARTITION BY u, upper(grp) AS match_len
                  ORDER BY pos
                  SYMBOLS(sym = 'A' AS a) PATTERN('a'))
            """,
        )
    # a relation column inside the internal '__' namespace (round-12
    # ADVICE: previously silently clobbered / duplicated)
    spark.sql(
        "SELECT u, pos, sym, 1 AS __mp_rn_r FROM npath_exprkey_probe"
    ).createOrReplaceTempView("npath_reserved_probe")
    with pytest.raises(ValueError, match="reserved '__np_/__mp_/__pt'"):
        npath_sql(
            spark,
            """
            npath(ON npath_reserved_probe
                  PARTITION BY u
                  ORDER BY pos
                  SYMBOLS(sym = 'A' AS a) PATTERN('a'))
            """,
        )


def test_npath_sql_measures_rejects_duplicate_sort_tuple(spark):
    """Round 13 (r12 ADVICE): MEASURES' unique-ORDER-BY requirement is
    enforced at run time — a duplicate (partition, sort-tuple) pair
    poisons the row numbering with raise_error instead of silently
    attributing aggregates to arbitrarily tie-broken rows."""
    from hive_service_spark.operators.matchpath import npath_sql

    spark.createDataFrame(
        [(1, 0, "A"), (1, 1, "A"), (1, 1, "B"), (1, 2, "B")],
        "u bigint, pos bigint, sym string",
    ).createOrReplaceTempView("npath_dup_order_probe")
    out = npath_sql(
        spark,
        """
        npath(ON npath_dup_order_probe
              PARTITION BY u
              ORDER BY pos
              SYMBOLS(sym = 'A' AS a, sym = 'B' AS b)
              PATTERN('a.b')
              MEASURES(CAST(SUM(pos) AS BIGINT) AS s))
        """,
    )
    with pytest.raises(Exception, match="unique sort key"):
        out.collect()
    # the same data WITHOUT measures still matches (the matching plans
    # tolerate ties; only the measures join-back needs uniqueness)
    ok = npath_sql(
        spark,
        """
        npath(ON npath_dup_order_probe
              PARTITION BY u
              ORDER BY pos
              SYMBOLS(sym = 'A' AS a, sym = 'B' AS b)
              PATTERN('a.b'))
        """,
    )
    assert ok.count() > 0


def test_matchpath_reserved_word_and_empty_order_items(spark):
    """Round-12 ADVICE: the direct API resolves plain identifiers via
    F.col, so a column NAMED a SQL reserved word still works; an order
    item that parses to an empty expression raises a clear error."""
    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import matchpath

    df = spark.createDataFrame(
        [(1, 0, "A"), (1, 1, "B")], "user_id bigint, order bigint, sym string"
    )
    out = matchpath(
        df,
        partition_by="user_id",
        order_by=["order"],
        symbols={"a": F.col("sym") == "A", "b": F.col("sym") == "B"},
        pattern="a.b",
        ts_col="order",
    )
    assert [(r["user_id"], r["start_rn"], r["match_len"]) for r in out.collect()] == [
        (1, 1, 2)
    ]
    with pytest.raises(ValueError, match="empty"):
        matchpath(
            df,
            partition_by="user_id",
            order_by=[""],
            symbols={"a": F.col("sym") == "A"},
            pattern="a",
            ts_col="order",
        )


def test_ast_first_chars_nullable_prefixes():
    """r13: the automaton's start filter — FIRST must see THROUGH
    nullable prefixes (a? / x{0,n} / a*), union alternation branches,
    and stop at the first non-nullable atom of a sequence."""
    from hive_service_spark.operators.matchpath import (
        _ast_first_chars,
        _parse_ast,
    )

    chars = {"a": "a", "b": "b", "c": "c"}
    cases = {
        "a.b": {"a"},
        "a?.b": {"a", "b"},
        "a*.b+.c": {"a", "b"},
        "(a|b).c": {"a", "b"},
        "(a?.b|c)": {"a", "b", "c"},
        "a{0,2}.(b|c)": {"a", "b", "c"},
        "(a|b)+.c": {"a", "b"},
    }
    for pat, want in cases.items():
        ast = _parse_ast(pat)
        assert ast is not None, pat
        assert _ast_first_chars(ast, chars) == want, pat


def test_automaton_start_filter_keeps_nullable_first_matches(spark):
    """r13: an automaton-class pattern whose first atom is NULLABLE
    must still match at rows of the SECOND atom's set — the FIRST-set
    start filter may skip only positions that can never begin a
    nonempty match."""
    import pyspark.sql.functions as F

    from hive_service_spark.operators.matchpath import matchpath

    rows = [(1, i, s) for i, s in enumerate(["B", "B", "A", "B", "C"])]
    df = spark.createDataFrame(rows, "user_id bigint, o bigint, sym string")
    out = matchpath(
        df,
        partition_by="user_id",
        order_by=["o"],
        symbols={
            "a": F.col("sym") == "A",
            "b": F.col("sym") == "B",
            "c": F.col("sym") == "C",
        },
        pattern="a?.b+.c",
        ts_col="o",
        force_automaton=True,
    )
    got = sorted(
        (r["start_rn"], r["match_len"]) for r in out.collect()
    )
    # starts: row1 (B,b+ then ...): "BBABC" — matches of a?.b+.c are
    # greedy nonoverlapping per START position: start 4 (B.C) and the
    # a-anchored start 3 (A.B.C); starts 1/2 fail (b+ run hits A, not C)
    assert got == [(3, 3), (4, 2)], got
