"""Driver-contract regression guards (VERDICT r01 items 1-3, 8).

The driver canonicalizer pandas-sorts raw result columns and crashes on
array/map/struct cells (``TypeError: unhashable type: 'numpy.ndarray'``,
CORRECTNESS_r01 ``array_funcs``).  Guard 1 pins every ORACLES-keyed query to
scalar-only output columns so that class of failure can never regress.

The driver also truncates its per-round CORRECTNESS run at the first 50 keys
of ``queries()`` insertion order, so that order IS the verification budget.
Guard 2 pins ``driver_order``'s tiering against an independent copy of it.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from bigdatawork_spark.registry import (
    CONTRACT_KEYS,
    ORACLES,
    QUERIES,
    driver_order,
    driver_verified_keys,
)

# SURVEY.md §2 contract keys (the judge's line-by-line checklist).
SURVEY2_KEYS = frozenset(
    # A sources/sinks
    "scan_parquet scan_csv scan_jsonl source_inline sink_parquet "
    "source_stream_file source_stream_rate sink_stream_memory "
    "sink_stream_foreachbatch "
    # B projections/filters
    "project_select project_cast project_case_when filter_simple "
    "filter_compound filter_in_between filter_like filter_null distinct_rows "
    # C joins
    "join_inner_broadcast join_inner_shuffle join_multiway_q5 join_left_outer "
    "join_right_outer join_full_outer join_left_semi join_left_anti "
    "join_cross join_theta_range join_asof join_interval "
    # D aggregations
    "agg_global agg_groupby_q1 agg_count_distinct agg_approx_count_distinct "
    "agg_having agg_rollup agg_cube agg_grouping_sets agg_collect_list "
    "agg_stats agg_median_percentile "
    # E windows
    "win_row_number win_rank_dense win_ntile win_lag_lead win_first_last "
    "win_running_sum win_moving_avg win_range_frame win_percent_cume "
    "topk_per_group "
    # F sort/limit
    "sort_multi limit_topk_q3 "
    # G set ops
    "set_union_all set_union_distinct set_intersect set_except "
    # H scalar functions
    "str_funcs wordcount str_regexp date_funcs ts_funcs math_funcs "
    "cond_funcs array_funcs map_json_funcs hash_funcs "
    # I time-window & streaming
    "win_time_tumbling win_time_sliding win_time_session stream_tumbling "
    "stream_watermark_late stream_dedup stream_stateful_count "
    "stream_static_join "
    # J UDF/UDAF/UDTF
    "udf_python udf_pandas_scalar udaf_pandas_grouped_agg udtf_grouped_map "
    "udtf_map_in_pandas udtf_python sql_udf_register "
    # K LLM-data-pipeline
    "dedup_exact dedup_near_minhash dedup_near_exactjacc sim_cosine_topk "
    "sim_ann_lsh knn_classify text_stats text_lang_filter tfidf_keywords "
    "multimodal_join".split()
)


@pytest.mark.parametrize("key", sorted(QUERIES))
def test_oracled_output_is_scalar_only(key, spark, sf_dir):
    # Swept over ALL registry keys, not just ORACLES: the driver collects and
    # canonicalizes rows-only keys too (CORRECTNESS_r03 `agg_approx_percentile`
    # crashed despite being rows-only — the oracled-only sweep was a blind
    # spot).
    df = QUERIES[key](spark, sf_dir)
    for f in df.schema.fields:
        assert not isinstance(f.dataType, (ArrayType, MapType, StructType)), (
            f"{key}.{f.name} is {f.dataType.simpleString()} — the driver "
            "canonicalizer cannot hash non-scalar cells; stringify it "
            "(concat_ws / to_json) on BOTH the Spark and oracle side"
        )


# Keys whose builders moved between modules once, each pinned to its home:
# a key silently re-registered from a different module fails here.
_EXPECTED_HOME = {
    "coreset_sample_kcenter": "bigdatawork_spark.operators.training_ops",
    "dedup_containment": "bigdatawork_spark.operators.curation",
    "dedup_ladder": "bigdatawork_spark.operators.curation",
    "dedup_ladder_exact_stage": "bigdatawork_spark.operators.curation",
    "dsir_importance_resample": "bigdatawork_spark.operators.training_ops",
    "embedding_pca_gram": "bigdatawork_spark.operators.training_ops",
    "knn_classify_ivf": "bigdatawork_spark.operators.llm_ops",
    "privacy_dp_count": "bigdatawork_spark.operators.platform_ops",
    "semdedup_prune": "bigdatawork_spark.operators.llm_ops",
    "table_format_vacuum": "bigdatawork_spark.sources.manifest_format",
    "ts_downsample_lttb": "bigdatawork_spark.operators.stats_ops",
    "ts_seasonal_decompose": "bigdatawork_spark.operators.stats_ops",
    "win_rolling_median": "bigdatawork_spark.operators.windows",
}


def test_staged_keys_promoted_verbatim():
    """Every formerly staged key is live in the registry, callable,
    registered from its documented home module, and (where declared)
    carries a non-empty oracle."""
    for key, home in _EXPECTED_HOME.items():
        fn = QUERIES[key]
        assert callable(fn), key
        assert fn.__module__ == home, (key, fn.__module__, home)
        assert getattr(fn, "query_key", None) == key
        if key in ORACLES:
            assert ORACLES[key].strip(), key


def test_survey2_keys_all_registered():
    missing = SURVEY2_KEYS - set(QUERIES)
    assert not missing, f"SURVEY §2 keys absent from registry: {sorted(missing)}"


def test_registry_contract_keys_match_survey2():
    # independent copies: a typo in either fails here
    assert CONTRACT_KEYS == SURVEY2_KEYS


def _mirror_tier(k, verified, recorded, vintage, upcoming):
    """Independent copy of driver_order's tiering — a drift in either side
    fails the tests below."""
    from bigdatawork_spark.registry import (
        STREAMING_CADENCE,
        is_streaming_key,
        source_hash,
    )

    if k not in verified:
        return 0 if k in CONTRACT_KEYS else 1
    if recorded.get(k) != source_hash(k):
        return 2
    if is_streaming_key(k) and vintage.get(k, 0) <= upcoming - STREAMING_CADENCE:
        return 3
    return 4


def test_driver_order_front_loads_unverified_then_extras_then_verified():
    ordered = list(driver_order(QUERIES))
    assert set(ordered) == set(QUERIES)
    verified = driver_verified_keys()
    from bigdatawork_spark.registry import _verified_hashes, driver_latest_round, source_hash

    recorded = _verified_hashes()
    vintage = driver_latest_round()
    upcoming = max(vintage.values(), default=0) + 1

    tiers = [_mirror_tier(k, verified, recorded, vintage, upcoming) for k in ordered]
    assert tiers == sorted(tiers), (
        "driver_order must be tiered: unverified contract, unverified "
        "extras, verified-but-stale, cadence-due streaming, verified"
    )


def test_streaming_cadence_floats_stale_streaming_keys():
    """VERDICT r11 item 4: a streaming key whose newest clean driver row is
    >= STREAMING_CADENCE rounds older than the upcoming round must rank in
    the due tier — ahead of every fresh verified non-due key — so the
    every-other-round streaming re-sample can't be crowded out of the
    driver's ~50-key window again."""
    from bigdatawork_spark.registry import (
        STREAMING_CADENCE,
        _verified_hashes,
        driver_latest_round,
        is_streaming_key,
        source_hash,
    )

    vintage = driver_latest_round()
    if not vintage:
        pytest.skip("no CORRECTNESS_r*.json present")
    verified = driver_verified_keys()
    recorded = _verified_hashes()
    upcoming = max(vintage.values()) + 1
    overdue = [
        k
        for k in QUERIES
        if k in verified
        and recorded.get(k) == source_hash(k)
        and is_streaming_key(k)
        and vintage.get(k, 0) <= upcoming - STREAMING_CADENCE
    ]
    fresh = [
        k
        for k in QUERIES
        if k in verified
        and recorded.get(k) == source_hash(k)
        and not is_streaming_key(k)
        and vintage.get(k, 0) == upcoming - 1
    ]
    if not overdue or not fresh:
        pytest.skip("no overdue streaming key or no fresh key to compare")
    ordered = list(driver_order(QUERIES))
    pos = {k: i for i, k in enumerate(ordered)}
    worst_overdue = max(pos[k] for k in overdue)
    best_fresh = min(pos[k] for k in fresh)
    assert worst_overdue < best_fresh, (
        "overdue streaming keys must outrank fresh verified keys"
    )


def test_streaming_predicate_covers_every_readstream_builder():
    """code-review r12: a name-prefix-only streaming predicate silently
    excluded three Structured Streaming keys from the cadence rule.  Sweep
    every builder's SOURCE for readStream/writeStream usage — any builder
    that drives a stream must be flagged by is_streaming_key, whatever its
    name or module."""
    import inspect

    from bigdatawork_spark.registry import is_streaming_key

    missed = []
    for k, fn in QUERIES.items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            continue
        if ("readStream" in src or "writeStream" in src) and not is_streaming_key(k):
            missed.append(k)
    assert not missed, f"streaming builders outside the cadence: {missed}"


def test_codegen_class_cache_sized_for_the_batch(spark):
    """The generated-class cache must stay sized above the headline batch's
    codegen-stage count (r12: the default 100 entries thrashed — every
    return to a query shape recompiled its Janino classes, read as a ~2x
    'switch penalty' for two rounds).  Static conf, so this pins the
    builder in session.get_spark, which created this session."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 5000


def test_driver_window_covers_priority_tiers_when_they_fit():
    """Permanent rotation invariant (the r11 window-arithmetic lesson):
    whenever the union of never-verified, source-stale and
    cadence-overdue-streaming keys (tiers 0-3) fits in the driver's
    ~50-key window, the first 50 of driver_order must contain ALL of
    them — no priority key may be crowded out by fresh verified keys."""
    from bigdatawork_spark.registry import _verified_hashes, driver_latest_round

    vintage = driver_latest_round()
    if not vintage:
        pytest.skip("no CORRECTNESS_r*.json present")
    verified = driver_verified_keys()
    recorded = _verified_hashes()
    upcoming = max(vintage.values()) + 1
    need = {
        k
        for k in QUERIES
        if _mirror_tier(k, verified, recorded, vintage, upcoming) < 4
    }
    if len(need) > 50:
        pytest.skip(f"priority tiers exceed the window ({len(need)} keys)")
    window = set(list(driver_order(QUERIES))[:50])
    missing = sorted(need - window)
    assert not missing, f"priority keys crowded out of the 50-key window: {missing}"


def test_driver_order_floats_stale_keys_ahead_of_fresh(tmp_path, monkeypatch):
    """VERDICT r06 item 5: a verified key whose builder source changed
    since its recorded verification hash must outrank verified-unchanged
    keys (a green row certifies only the source that produced it).

    Front-loading is checked on a real case, not a vacuous one: one
    contract key and one extra are dropped from the verified set, so the
    order must run contract key, then extra, then the stale key."""
    import json

    from bigdatawork_spark import registry
    from bigdatawork_spark.registry import _verified_hashes, source_hash

    real = driver_verified_keys()
    verified = sorted(real & set(QUERIES))
    contract = next((k for k in verified if k in CONTRACT_KEYS), None)
    extra = next((k for k in verified if k not in CONTRACT_KEYS), None)
    rest = [k for k in verified if k not in (contract, extra)]
    if contract is None or extra is None or len(rest) < 2:
        pytest.skip("need a verified contract key, extra and two others")
    stale_key, fresh_key = rest[0], rest[1]
    snap = {k: source_hash(k) for k in verified}
    snap[stale_key] = "0" * 64  # pretend its source changed since the row
    hf = tmp_path / "hashes.json"
    hf.write_text(json.dumps(snap))
    now_verified = real - {contract, extra}
    monkeypatch.setattr(registry, "driver_verified_keys", lambda: now_verified)
    ordered = list(driver_order(QUERIES, _hash_file=str(hf)))
    pos = ordered.index
    assert pos(contract) < pos(extra) < pos(stale_key) < pos(fresh_key)
    # the stale key still ranks BEHIND every never-verified key
    for k in QUERIES:
        if k not in now_verified:
            assert pos(k) < pos(stale_key)
    # hygiene: the real snapshot parses and covers only registered keys
    real = _verified_hashes()
    assert set(real) <= set(QUERIES)


def _load_probe_module(path, source):
    """Load ``source`` from ``path`` as a package-namespaced module (the
    closure walk only recurses into ``bigdatawork_spark.*`` callables)."""
    import importlib.util
    import sys

    path.write_text(source)
    name = "bigdatawork_spark._closure_probe"
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod  # _const_srcs resolves via sys.modules
    spec.loader.exec_module(mod)
    return mod


_PROBE_V1 = '''\
_CAP = 4

def helper(x):
    return x + 1

def caller_a(v):
    return helper(v) * _CAP

def caller_b(v):
    return helper(v) - 1
'''


def test_helper_edit_marks_every_caller_stale(tmp_path):
    """VERDICT r12 item 3: ``source_hash`` must cover the transitive
    closure — an edit to a SHARED HELPER (or a referenced module constant)
    changes the fingerprint of every caller, even though the callers' own
    text is byte-identical.  Combined with
    ``test_driver_order_floats_stale_keys_ahead_of_fresh`` (hash mismatch
    ⇒ tier 2) this pins the full chain: helper edit ⇒ every caller ranks
    tier-2 stale in driver_order."""
    import sys

    from bigdatawork_spark import registry

    key_a, key_b = "__closure_probe_a", "__closure_probe_b"
    try:
        mod = _load_probe_module(tmp_path / "probe_v1.py", _PROBE_V1)
        registry.QUERIES[key_a] = mod.caller_a
        registry.QUERIES[key_b] = mod.caller_b
        h1 = {k: registry.source_hash(k) for k in (key_a, key_b)}
        # the closure actually contains the helper and the constant
        cs = registry.closure_sources(mod.caller_a)
        assert any(t.endswith(".helper") for t in cs), sorted(cs)
        assert any(t.endswith("._CAP") for t in cs), sorted(cs)

        # v2: ONLY the shared helper's body changes (new filename so
        # linecache can't serve stale lines; same module name)
        mod2 = _load_probe_module(
            tmp_path / "probe_v2.py",
            _PROBE_V1.replace("return x + 1", "return x + 2"),
        )
        registry.QUERIES[key_a] = mod2.caller_a
        registry.QUERIES[key_b] = mod2.caller_b
        for k in (key_a, key_b):
            registry._SOURCE_HASH_CACHE.pop(k, None)
        h2 = {k: registry.source_hash(k) for k in (key_a, key_b)}
        assert h1[key_a] != h2[key_a], "caller_a blind to helper edit"
        assert h1[key_b] != h2[key_b], "caller_b blind to helper edit"

        # v3: only the CONSTANT changes — callers referencing it go stale
        mod3 = _load_probe_module(
            tmp_path / "probe_v3.py", _PROBE_V1.replace("_CAP = 4", "_CAP = 5")
        )
        registry.QUERIES[key_a] = mod3.caller_a
        registry._SOURCE_HASH_CACHE.pop(key_a, None)
        registry._CONST_SRC_CACHE.pop("bigdatawork_spark._closure_probe", None)
        assert registry.source_hash(key_a) != h2[key_a], (
            "caller_a blind to constant edit"
        )
    finally:
        for k in (key_a, key_b):
            registry.QUERIES.pop(k, None)
            registry._SOURCE_HASH_CACHE.pop(k, None)
        registry._CONST_SRC_CACHE.pop("bigdatawork_spark._closure_probe", None)
        sys.modules.pop("bigdatawork_spark._closure_probe", None)


_PROBE_PROSE = '''\
_CAP = 4


def prose_helper():
    return 0


def fmt_helper():
    return 1


def caller_prose(v):
    """Formats v; see prose_helper for the other half."""
    # prose_helper is not called here
    return "prose_helper: " + str(v)


def caller_code(v):
    from bigdatawork_spark import _closure_probe as probe

    return f"{fmt_helper()}:{v}" * probe._CAP
'''


def test_closure_fingerprints_code_not_prose(tmp_path):
    """The closure is built from the AST's names, not a textual scan: a
    helper named only in a docstring, a comment or a string literal stays
    out of the caller's fingerprint (so editing it stales no key that
    merely mentions it), while a helper called inside an f-string
    expression and a constant reached through an attribute stay in."""
    import sys

    from bigdatawork_spark import registry

    try:
        mod = _load_probe_module(tmp_path / "probe_prose.py", _PROBE_PROSE)
        prose = registry.closure_sources(mod.caller_prose)
        assert not any(t.endswith(".prose_helper") for t in prose), sorted(prose)
        code = registry.closure_sources(mod.caller_code)
        assert any(t.endswith(".fmt_helper") for t in code), sorted(code)
        assert any(t.endswith("._CAP") for t in code), sorted(code)
    finally:
        registry._CONST_SRC_CACHE.pop("bigdatawork_spark._closure_probe", None)
        sys.modules.pop("bigdatawork_spark._closure_probe", None)
    # real registry: text_unigram_logprob's docstring names tfidf_keywords,
    # which must not enter its fingerprint
    cs = registry.closure_sources(registry.QUERIES["text_unigram_logprob"])
    assert not any(t.endswith("llm_ops.tfidf_keywords") for t in cs), sorted(cs)


_PROBE_ATTR = '''\
from bigdatawork_spark import session as sess


def helper():
    return 0


def caller_method(obj):
    return obj.helper()


def caller_module(df):
    return sess.spread_if_narrow(df)
'''


def test_closure_resolves_attributes_by_their_module(tmp_path):
    """An attribute enters the closure only through the module it is read
    from: a method call that shares a module helper's name does not pull
    that helper in (``readStream….load()`` once staled
    ``source_stream_rate`` on every ``io.load`` edit), while a helper
    reached as ``module.helper`` through a module global does."""
    import sys

    from bigdatawork_spark import registry

    try:
        mod = _load_probe_module(tmp_path / "probe_attr.py", _PROBE_ATTR)
        cs = registry.closure_sources(mod.caller_method)
        assert not any(t.endswith("_closure_probe.helper") for t in cs), sorted(cs)
        cs = registry.closure_sources(mod.caller_module)
        assert "bigdatawork_spark.session.spread_if_narrow" in cs, sorted(cs)
    finally:
        registry._CONST_SRC_CACHE.pop("bigdatawork_spark._closure_probe", None)
        sys.modules.pop("bigdatawork_spark._closure_probe", None)


def test_closure_covers_in_function_imports():
    """r13 review: helpers bound by an in-function ``from … import``
    never reach ``__globals__``, so the global-namespace walk alone
    missed them — the AST pass must pull them into the closure.  Pinned
    on real cross-module in-function imports."""
    from bigdatawork_spark import registry

    for key, helper in (
        ("stream_index_admission", "bigdatawork_spark.operators.curation._split"),
        ("dedup_index_persisted", "bigdatawork_spark.streaming.stream_ops._fresh_dir"),
    ):
        cs = registry.closure_sources(registry.QUERIES[key])
        assert helper in cs, (key, helper, sorted(cs)[:20])
    # absolute-form in-package import inside a body (sql_api.sql)
    cs = registry.closure_sources(registry.QUERIES["sql_interface"])
    assert any(".sql_api." in t for t in cs), sorted(cs)[:20]


def test_closure_constant_fingerprint_is_process_independent():
    """Constants enter the closure by ASSIGNMENT TEXT, not runtime value:
    ``io_ops._TMP_ROOT`` embeds ``os.getpid()``, which differed per process
    and would have marked the scan/sink family permanently stale (found
    while building the closure hash — a value-based fingerprint broke
    cross-process determinism)."""
    from bigdatawork_spark.registry import _const_srcs, closure_sources
    from bigdatawork_spark.registry import QUERIES

    srcs = _const_srcs("bigdatawork_spark.sources.io_ops")
    assert "_TMP_ROOT" in srcs and "getpid" in srcs["_TMP_ROOT"]
    cs = closure_sources(QUERIES["scan_csv"])
    tag = "const:bigdatawork_spark.sources.io_ops._TMP_ROOT"
    assert cs.get(tag) == srcs["_TMP_ROOT"]


def test_driver_order_rotates_on_round1_results():
    # With CORRECTNESS_r01.json committed, its green keys (e.g. str_funcs,
    # agg_groupby_q1) must sit BEHIND every not-yet-verified key.
    verified = driver_verified_keys()
    if not verified:
        pytest.skip("no CORRECTNESS_r*.json present")
    ordered = list(driver_order(QUERIES))
    n_unverified = len([k for k in ordered if k not in verified])
    assert all(k in verified for k in ordered[n_unverified:])
    assert "str_funcs" in verified and "agg_groupby_q1" in verified


def test_driver_order_rotates_oldest_vintage_first():
    """VERDICT r10 item 1: within the verified tiers, keys must sort by the
    round of their newest clean driver row ascending, so the driver's
    ~50-key window resamples the stalest vintages (r01/r03 §2-B/J/H/A keys)
    instead of a fixed priority order."""
    from bigdatawork_spark.registry import _verified_hashes, driver_latest_round

    vintage = driver_latest_round()
    if not vintage:
        pytest.skip("no CORRECTNESS_r*.json present")
    verified = driver_verified_keys()
    recorded = _verified_hashes()
    upcoming = max(vintage.values()) + 1
    ordered = list(driver_order(QUERIES))
    # per-tier vintage monotonicity (tiers 2, 3, 4 separately)
    for want_tier in (2, 3, 4):
        rounds = [
            vintage.get(k, 0)
            for k in ordered
            if _mirror_tier(k, verified, recorded, vintage, upcoming) == want_tier
        ]
        assert rounds == sorted(rounds), (
            f"verified tier {want_tier} not vintage-ascending"
        )


def test_entry_queries_tune_a_foreign_session(spark):
    """The driver owns its session; queries() callables must apply the
    UTC/AQE/shuffle confs before the first builder runs even when that
    builder never touches io.load (round-3 ensure_tuned wrapper)."""
    import __spark_entry__ as entry_mod
    from bigdatawork_spark import session as sess

    # simulate a fresh, never-tuned session without paying a JVM start:
    # clear the tuned sentinel and deviate one conf.  try/finally restores
    # UTC even if the collect fails — otherwise every later test in the
    # shared session runs under the wrong timezone (ADVICE r03).
    try:
        sess.session_memo(spark, "tuned").clear()
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        q = entry_mod.queries()
        # source_inline synthesizes data without loading any corpus table
        from tests.conftest import SF_DIR

        q["source_inline"](spark, SF_DIR).collect()
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        sess.ensure_tuned(spark)


@pytest.mark.parametrize("key", sorted(QUERIES))
def test_every_key_has_semantics_docstring(key):
    """House hygiene the judge audits: every registered builder documents
    its semantics and scale behavior."""
    doc = QUERIES[key].__doc__ or ""
    assert len(doc.strip()) >= 40, f"{key} lacks a meaningful docstring"


def test_closure_sources_walks_plain_imports_and_unimported_modules(monkeypatch):
    """ADVICE r13: the AST pass must see in-function `import pkg.mod`
    statements (bound name is a module — the identifier scan never
    traverses it) and must import_module (guarded) targets absent from
    sys.modules instead of silently skipping them."""
    import sys

    from bigdatawork_spark.registry import closure_sources

    def uses_plain_import(spark, sf_dir):
        import bigdatawork_spark.session
        return bigdatawork_spark.session

    parts = closure_sources(uses_plain_import)
    assert "module:bigdatawork_spark.session" in parts

    # monkeypatch.delitem restores the ORIGINAL module object afterwards
    # (r14 review: a bare pop left closure_sources' re-import as a
    # duplicate module, breaking identity for later tests order-dependently)
    monkeypatch.delitem(
        sys.modules, "bigdatawork_spark.plans.explain", raising=False
    )

    def uses_unimported(spark, sf_dir):
        from bigdatawork_spark.plans.explain import formatted_plan
        return formatted_plan

    parts = closure_sources(uses_unimported)
    assert any("formatted_plan" in t for t in parts), sorted(parts)


def test_closure_sources_respects_package_boundary():
    """ADVICE r14: `import bigdatawork_spark_extras` (a foreign top-level
    module that merely SHARES the package-name prefix) must not be folded
    into the fingerprint — a bare startswith(pkg) match would hash its
    whole source (or an <unresolvable> marker), churning staleness on
    third-party edits."""
    from bigdatawork_spark.registry import closure_sources

    def uses_foreign(spark, sf_dir):
        import bigdatawork_spark_extras  # noqa: F401 — never executed
        return None

    parts = closure_sources(uses_foreign)
    assert not any("bigdatawork_spark_extras" in t for t in parts), sorted(
        parts
    )

    # the boundary fix must not break the legitimate exact-package and
    # dotted-submodule cases
    def uses_pkg_and_sub(spark, sf_dir):
        import bigdatawork_spark.session
        return bigdatawork_spark.session

    parts = closure_sources(uses_pkg_and_sub)
    assert "module:bigdatawork_spark.session" in parts


def test_closure_sources_boundary_from_import_and_module_attr(monkeypatch):
    """ADVICE r15: the r14 boundary fix covered only the ast.Import
    branch.  A foreign prefix-sharing module reached via `from`-import or
    via a referenced object's __module__ must be excluded too — otherwise
    a `bigdatawork_spark_extras` helper would fold into the closure
    fingerprint (spurious staleness on third-party edits)."""
    import sys
    import types

    from bigdatawork_spark.registry import closure_sources

    # install a REAL (fake) foreign module so resolution succeeds and the
    # old bare-prefix match would have traversed its contents
    foreign = types.ModuleType("bigdatawork_spark_extras")
    exec("def foreign_helper():\n    return 41\n", foreign.__dict__)
    foreign.foreign_helper.__module__ = "bigdatawork_spark_extras"
    monkeypatch.setitem(sys.modules, "bigdatawork_spark_extras", foreign)

    # from-import form (registry.py ImportFrom branch)
    def uses_foreign_from(spark, sf_dir):
        from bigdatawork_spark_extras import foreign_helper
        return foreign_helper

    parts = closure_sources(uses_foreign_from)
    assert not any("bigdatawork_spark_extras" in t for t in parts), sorted(
        parts
    )

    # __module__ form (the identifier-scan omod check): a global binding
    # whose object CLAIMS a foreign prefix-sharing module.  The function is
    # defined normally in THIS file (so inspect.getsource works and the
    # identifier scan runs over real source) and the foreign helper is
    # injected into this module's globals, which ARE the function's
    # __globals__.
    monkeypatch.setitem(
        globals(), "foreign_helper", foreign.foreign_helper
    )

    def uses_foreign_global(spark, sf_dir):
        return foreign_helper  # noqa: F821 — injected above

    parts = closure_sources(uses_foreign_global)
    assert not any("bigdatawork_spark_extras" in t for t in parts), sorted(
        parts
    )

    # sanity: a legitimate package-local from-import still traverses
    def uses_local_from(spark, sf_dir):
        from bigdatawork_spark.plans.explain import formatted_plan
        return formatted_plan

    parts = closure_sources(uses_local_from)
    assert any("formatted_plan" in t for t in parts), sorted(parts)


def test_oracle_fixed_sf_declaration_is_accurate():
    """ORACLE_FIXED_SF (r16) declares the keys whose oracle SQL names the
    contract's sf0.01 path literally (DuckDB parquet_metadata() rejects
    subquery arguments, so the path can't come from the registered view).
    A cross-scale simulation must downgrade exactly these keys to
    rows-only at non-contract SFs — so the set must (a) only contain
    oracled keys, (b) each oracle must really embed the contract dir, and
    (c) no OTHER oracle may hard-code a testdata path (it would fail the
    same way parquet_layout_audit did in the r16 sf0.1 full sim)."""
    from bigdatawork_spark.registry import ORACLE_FIXED_SF

    contract_dir = "/root/testdata/sf0.01"
    assert ORACLE_FIXED_SF <= set(ORACLES)
    for key in ORACLE_FIXED_SF:
        assert contract_dir in ORACLES[key], key
    for key, sql in ORACLES.items():
        if key not in ORACLE_FIXED_SF:
            assert "/root/testdata" not in sql, (
                f"{key} hard-codes a testdata path but is not declared"
                " in ORACLE_FIXED_SF"
            )
