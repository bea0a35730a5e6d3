"""Regex-dialect coverage audit (round 7, VERDICT r6 #7).

``kernel/regex_js.py`` translates the ECMAScript pattern dialect into a
verified-safe Java/Python subset; anything outside it falls to a slower
plane.  Until this round no published number said what fraction of
patterns actually falls, or why.  These tests:

- pin the corpus-wide accept/fallback counts of the translator over
  EVERY regex the conformance corpus exercises (pattern values,
  patternProperties keys, propertyNames.pattern — schemas and remotes),
  so a translator regression (a construct silently dropping out of the
  rlike subset) shows as a count change;
- pin that ``CompiledPlan.coverage()`` now carries ``plane_b_reasons``
  (the WHY for every check that left pure Catalyst) and
  ``pattern_fallbacks`` for the regex-specific share.
"""

from __future__ import annotations

import json

import pytest

from jema_js_spark.kernel.regex_js import (UnsupportedRegexError,
                                           compile_js_regex,
                                           java_regex_explain)
from tests.suite_cases import CASES, REMOTES


def _collect_patterns(node, out):
    """Every regex the engine would evaluate: ``pattern`` values,
    ``patternProperties`` keys, and (via the generic walk) patterns in
    any nested subschema position."""
    if isinstance(node, dict):
        p = node.get("pattern")
        if isinstance(p, str):
            out.add(p)
        pp = node.get("patternProperties")
        if isinstance(pp, dict):
            out.update(k for k in pp if isinstance(k, str))
        for v in node.values():
            _collect_patterns(v, out)
    elif isinstance(node, list):
        for v in node:
            _collect_patterns(v, out)


def corpus_patterns() -> set:
    pats: set = set()
    for case in CASES:
        _collect_patterns(case.schema, pats)
    for doc in REMOTES.values():
        _collect_patterns(doc, pats)
    return pats


def test_corpus_pattern_audit_counts():
    """The published number: how much of the corpus's regex surface the
    rlike (Plane-A) path accepts, and the reasons for every fallback.
    Counts are pinned >= so ADDING corpus patterns never breaks this,
    while a translator regression (accepted → fallback) fails the
    rlike-share floor."""
    pats = corpus_patterns()
    accepted, java_fallback, untranslatable = [], {}, {}
    for p in sorted(pats):
        jre, why = java_regex_explain(p)
        if jre is not None:
            accepted.append(p)
            continue
        try:
            compile_js_regex(p)
        except UnsupportedRegexError as exc:
            untranslatable[p] = str(exc)   # kernel falls back too (loud)
        else:
            java_fallback[p] = why         # pandas-UDF single-column path
    report = {
        "corpus_patterns": len(pats),
        "rlike_accepted": len(accepted),
        "pandas_udf_fallback": java_fallback,
        "untranslatable": untranslatable,
    }
    print("\nREGEX-COVERAGE AUDIT: " + json.dumps(report, indent=2))
    assert len(pats) >= 25, report
    # the corpus's whole regex surface stays inside the rlike subset —
    # the suite's non-optional pattern material always has (module
    # docstring, regex_js.py); this pin makes a silent regression loud
    assert len(accepted) == len(pats), report
    assert not untranslatable and not java_fallback, report


def test_translator_accepts_dialect_features():
    """Cheap-win inventory: the constructs VERDICT r6 #7 asked after are
    in the accepted subset (named groups, backrefs to them,
    non-capturing groups, lookahead, fixed lookbehind, u-escapes,
    empty-class idioms)."""
    for p in [
        r"(?<year>[0-9]{4})-\k<year>",
        r"(?:ab)+c",
        r"a(?=b)", r"a(?!b)", r"(?<=a)b", r"(?<!a)b",
        r"A\u{1F600}",
        r"^[^]$", r"x[]y|z",
        r"\cJ\x41\0",
        r"[\b]",
    ]:
        jre, why = java_regex_explain(p)
        assert jre is not None, (p, why)


def test_translator_fallbacks_carry_reasons():
    """Outside-subset patterns explain themselves."""
    # \p is Python-owned (cross-plane parity) → off the rlike path
    jre, why = java_regex_explain(r"\p{L}+")
    assert jre is None and "parity" in why
    jre, why = java_regex_explain(r"(?<=a+)b")   # variable-length lookbehind
    assert jre is None and why
    jre, why = java_regex_explain(r"\p{Script=Greek}")  # scripts stay loud
    assert jre is None and why


def test_unicode_property_escapes():
    """round 7: \\p{...} general categories match the reference's native
    'u'-flag semantics — expanded classes, evaluated Python-side."""
    from jema_js_spark.kernel.regex_js import js_regex_search

    assert js_regex_search(r"^\p{L}+$", "aÉあ")
    assert not js_regex_search(r"^\p{L}+$", "a1")
    assert js_regex_search(r"^\p{Lu}$", "É")
    assert not js_regex_search(r"^\p{Lu}$", "é")
    assert js_regex_search(r"^\p{Nd}+$", "7٣")      # ASCII + Arabic-Indic
    assert not js_regex_search(r"^\p{Nd}$", "Ⅷ")    # Nl, not Nd
    assert js_regex_search(r"^\p{N}$", "Ⅷ")
    assert js_regex_search(r"^\P{L}$", "1")
    assert not js_regex_search(r"^\P{L}$", "a")
    assert js_regex_search(r"^[\p{L}0-9]+$", "a0É")  # in-class union
    assert js_regex_search(r"^\p{White_Space}$", " ")
    assert js_regex_search(r"^\p{Letter}+$", "ab")   # long alias
    assert js_regex_search(r"^\p{gc=Lu}$", "A")      # gc= form
    assert js_regex_search(r"^\p{L}$", "\U00010400")  # astral letter (Deseret)
    assert not js_regex_search(r"^\p{L}$", "\U0001F600")  # emoji is So

    # end-to-end: a contract the engine previously could not validate
    from jema_js_spark.schema.frontend import Schema

    s = Schema({"type": "string", "pattern": r"^\p{Lu}\p{Ll}+$"})
    assert s.validate("Hello") is True
    assert s.validate("hello") is False
    assert s.validate("HELLO") is False


def test_property_escape_cross_plane_parity(spark):
    """A \\p contract judged by the columnar plan (single-column pandas
    UDF — the Python-owned path) must agree with the kernel on every
    row, including astral and category-edge codepoints."""
    from pyspark.sql import Row

    from jema_js_spark.schema.frontend import Schema
    from jema_js_spark.validation.engine import compile_for

    contract = {"type": "object",
                "properties": {"name": {"pattern": r"^\p{L}[\p{L}\p{Nd}]*$"}}}
    samples = ["abc", "a1", "1a", "É٣", "あいう", "\U00010400x",
               "\U0001F600", "", " ", "a b", "Ⅷ", "áb", None]
    df = spark.createDataFrame([Row(name=s) for s in samples])
    plan = compile_for(df, contract)
    assert plan.coverage()["pattern_fallbacks"] >= 1  # the premise
    got = [r["valid"] for r in
           plan.with_valid(df).select("valid").collect()]
    s = Schema(contract)
    want = [s.validate({} if x is None else {"name": x}) for x in samples]
    assert got == want, list(zip(samples, got, want))


def test_coverage_reports_reasons(spark):
    """coverage() names WHY each check left pure Plane A."""
    from pyspark.sql import Row

    from jema_js_spark.validation.engine import compile_for

    df = spark.createDataFrame([Row(name="a", tags=["x"])])

    # a pattern outside the rlike subset (but Python-safe): \p is not —
    # use a variable-length-lookbehind-free Python-only construct; the
    # simplest Python-safe/Java-unsafe split is rare by design, so pin
    # the unevaluated* whole-node gate and the untranslatable path
    plan = compile_for(df, {
        "type": "object",
        "allOf": [{"unevaluatedProperties": False}],
    })
    cov = plan.coverage()
    assert cov["plane_b_checks"] >= 1
    assert any("unevaluated" in r for r in cov["plane_b_reasons"].values())

    plan2 = compile_for(df, {
        "properties": {"name": {"pattern": r"\p{L}+"}}})
    cov2 = plan2.coverage()
    assert cov2["pattern_fallbacks"] >= 1
    assert any("untranslatable" in r or "pattern" in r
               for r in cov2["plane_b_reasons"].values()), cov2

    # pure-Plane-A plan: no reasons, zero pattern fallbacks
    cov3 = compile_for(df, {
        "properties": {"name": {"pattern": "^[a-z]+$"}}}).coverage()
    assert cov3["plane_b_checks"] == 0
    assert cov3["plane_b_reasons"] == {}
    assert cov3["pattern_fallbacks"] == 0


def test_property_name_matching_is_exact_case():
    """Round-7 review fix: ES property matching is case-sensitive and
    whitespace-intolerant — \\p{letter} is a SyntaxError under the
    reference's new RegExp(p,'u'), and the old .upper() matching
    accepted it, splitting format:"regex" verdicts.  Pin the
    classification tri-state."""
    from jema_js_spark.kernel.formats import valid_regex
    from jema_js_spark.kernel.regex_js import (InvalidRegexError,
                                               UndecidableRegexError,
                                               UnsupportedRegexError,
                                               compile_js_regex,
                                               js_regex_search)

    # exact names compile and match
    for pat in (r"^\p{Lu}$", r"^\p{Letter}$", r"\p{digit}", r"\p{cntrl}",
                r"\p{punct}", r"\p{gc=Lu}", r"\p{General_Category=Letter}",
                r"\p{White_Space}", r"\p{WSpace}", r"\p{ASCII}",
                r"\p{Any}", r"\p{Assigned}", r"\p{Combining_Mark}"):
        compile_js_regex(pat)
    assert js_regex_search(r"^\p{Assigned}+$", "ab1")
    assert not js_regex_search(r"^\p{ASCII}$", "é")
    # wrong-case / unknown names are ES SyntaxErrors -> format False
    for pat in (r"\p{letter}", r"\p{LETTER}", r"\p{Digit}", r"\p{lu}",
                r"\p{ Letter }", r"\p{Frobnicate}", r"\p{gc=Alphabetic}"):
        with pytest.raises(InvalidRegexError):
            compile_js_regex(pat)
        assert valid_regex(pat) is False
    # ES-valid binary properties: unevaluable here, but they COMPILE
    # in the reference -> format True, matching loud elsewhere
    for pat in (r"\p{Alphabetic}", r"\p{ID_Start}", r"\p{Emoji}"):
        with pytest.raises(UnsupportedRegexError):
            compile_js_regex(pat)
        assert valid_regex(pat) is True
    # script properties: validity undecidable without script tables ->
    # format refuses loudly, never guesses
    for pat in (r"\p{Script=Greek}", r"\p{sc=Latin}", r"\p{Script=Bogus}"):
        with pytest.raises(UndecidableRegexError):
            valid_regex(pat)
    # variable-width lookbehind: valid ES2018, Python can't run it
    with pytest.raises(UnsupportedRegexError):
        compile_js_regex(r"(?<=ab*)x")
    assert valid_regex(r"(?<=ab*)x") is True
    # garden-variety SyntaxErrors keep mapping to False
    assert valid_regex(r"^(abc]") is False
    assert valid_regex(r"a{2,1}") is False


def test_routable_corpus_plans_have_zero_pattern_fallbacks(spark):
    """Round 8 (VERDICT r7 #6): the corpus-pattern audit above proves
    every corpus regex is rlike-safe IN ISOLATION; this pins the same
    fact on the COMPILED ROUTED PLANS — as tasks r7#2/r8#4 pull more
    corpus schemas onto the route (full-corpus parity, recursive
    unroll), none may silently grow the single-column pandas-UDF
    (js_rlike) share.  Every routable schema's plan must report
    pattern_fallbacks == 0; Plane-B checks for other reasons (variant
    nets, unevaluated gates) are fine and already published."""
    import json as _json

    from pyspark.sql import functions as F

    from jema_js_spark.compiler.compile import SchemaCompiler
    from jema_js_spark.schema.frontend import Schema
    from jema_js_spark.validation.json_plane import analyze_json_contract
    from tests.suite_cases import CASES

    seen, offenders, n_plans = set(), [], 0
    for case in CASES:
        if not isinstance(case.schema, dict):
            continue
        try:
            key = _json.dumps(case.schema, sort_keys=True)
        except (TypeError, ValueError):
            continue
        if key in seen:
            continue
        seen.add(key)
        try:
            schema = Schema(case.schema)     # mirrors the corpus route
            plan = analyze_json_contract(schema)   # test's filter exactly
        except Exception:
            continue
        if not plan.routable:
            continue
        cp = SchemaCompiler(schema).compile_plan_for_column(
            *plan.slot(F.from_json(F.lit("{}"), plan.struct_type())))
        n_plans += 1
        cov = cp.coverage()
        if cov["pattern_fallbacks"]:
            offenders.append((key[:80], cov["plane_b_reasons"]))
    assert n_plans >= 429, n_plans          # the routability floor
    assert not offenders, offenders[:3]
