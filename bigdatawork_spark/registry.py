"""Central operator registry.

Every operator from SURVEY.md §2 registers here: a Spark DataFrame builder
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) the DuckDB oracle
SQL string under the same key.  ``__spark_entry__.py`` exposes these dicts to
the driver verbatim.

Reference citation: REF:∅ (reference snapshot empty — see SURVEY.md §0);
the binding contract is SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

QUERIES: dict[str, Callable[[Any, str], Any]] = {}
ORACLES: dict[str, str] = {}

#: Keys whose oracle SQL is pinned to the correctness contract's fixed
#: sf0.01 directory because the DuckDB side needs a literal PATH rather
#: than a pre-registered view (duckdb parquet_metadata() rejects subquery
#: arguments — "only table-in-out functions can have subquery
#: parameters").  At the driver's gate (always sf0.01) these compare
#: hash-exact; a cross-scale simulation at any OTHER sf_dir must treat
#: them as rows-only there, or it compares the engine at one scale to
#: the oracle at another (found live: the r16 sf0.1 full sim flagged
#: parquet_layout_audit as a spurious hash mismatch).  The sf-parametric
#: cross-check for these keys lives in tests (test_corpus_ops.py builds
#: the parquet_metadata() comparison at the test's OWN sf_dir).
ORACLE_FIXED_SF: frozenset[str] = frozenset({"parquet_layout_audit"})


# SURVEY.md §2's 92 contract keys — the judge's line-by-line checklist.
# Used by driver_order to rank never-driver-verified contract keys ahead of
# never-verified extras.  tests/test_driver_contract.py holds an independent
# copy and asserts equality, so a typo here fails CI.
CONTRACT_KEYS: frozenset[str] = frozenset(
    "scan_parquet scan_csv scan_jsonl source_inline sink_parquet "
    "source_stream_file source_stream_rate sink_stream_memory "
    "sink_stream_foreachbatch "
    "project_select project_cast project_case_when filter_simple "
    "filter_compound filter_in_between filter_like filter_null distinct_rows "
    "join_inner_broadcast join_inner_shuffle join_multiway_q5 join_left_outer "
    "join_right_outer join_full_outer join_left_semi join_left_anti "
    "join_cross join_theta_range join_asof join_interval "
    "agg_global agg_groupby_q1 agg_count_distinct agg_approx_count_distinct "
    "agg_having agg_rollup agg_cube agg_grouping_sets agg_collect_list "
    "agg_stats agg_median_percentile "
    "win_row_number win_rank_dense win_ntile win_lag_lead win_first_last "
    "win_running_sum win_moving_avg win_range_frame win_percent_cume "
    "topk_per_group "
    "sort_multi limit_topk_q3 "
    "set_union_all set_union_distinct set_intersect set_except "
    "str_funcs wordcount str_regexp date_funcs ts_funcs math_funcs "
    "cond_funcs array_funcs map_json_funcs hash_funcs "
    "win_time_tumbling win_time_sliding win_time_session stream_tumbling "
    "stream_watermark_late stream_dedup stream_stateful_count "
    "stream_static_join "
    "udf_python udf_pandas_scalar udaf_pandas_grouped_agg udtf_grouped_map "
    "udtf_map_in_pandas udtf_python sql_udf_register "
    "dedup_exact dedup_near_minhash dedup_near_exactjacc sim_cosine_topk "
    "sim_ann_lsh knn_classify text_stats text_lang_filter tfidf_keywords "
    "multimodal_join".split()
)


# Streaming keys are due a driver re-sample EVERY OTHER ROUND (VERDICT r10
# item 8 / r11 item 4: streaming is where session-conf drift bites silently,
# and r11's 50-key window dropped the 16 streaming keys because nothing
# encoded the cadence — this constant is that rule, so window arithmetic
# can't silently drop it again).  A streaming key whose newest clean row is
# >= STREAMING_CADENCE rounds older than the upcoming round ranks in the
# due tier automatically.
STREAMING_CADENCE = 2


def is_streaming_key(key: str) -> bool:
    """True for keys with streaming semantics: registered from the
    ``streaming`` package, or explicitly flagged ``streaming=True`` at
    their ``@register`` site (the admission/restart twins, the
    table-format stream read/sink, and the python-datasource stream live
    in operator/source modules but are still Structured Streaming under
    the hood).  The r12 predicate matched ``"stream" in key`` as a
    fallback, which would false-positive any future non-streaming key
    containing the substring (ADVICE r12) — the explicit flag replaces
    it.  ``tests/test_driver_contract.py`` sweeps every builder's source
    for readStream/writeStream and asserts this predicate flags it, so a
    streaming key in an operator module can't dodge the cadence by
    forgetting the flag."""
    fn = QUERIES.get(key)
    mod = getattr(fn, "__module__", "") or ""
    return getattr(fn, "drives_stream", False) or ".streaming." in mod


def correctness_rows() -> list[tuple[int, str, dict]]:
    """``(round, key, row)`` for every row of every driver
    ``CORRECTNESS_r<N>.json`` in the checkout root — the one reader of the
    driver's per-round results.  Unreadable files are skipped."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rows: list[tuple[int, str, dict]] = []
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            rows.extend(
                (int(m.group(1)), k, row)
                for k, row in data.items()
                if isinstance(row, dict)
            )
    return rows


def is_clean_row(row: dict) -> bool:
    """A driver row that verifies its key: hash-green, or rows-only that
    ran without error."""
    return row.get("hash_match") is True or (
        row.get("err") == "no_oracle" and row.get("spark_rows") is not None
    )


def driver_verified_keys() -> set[str]:
    """Keys with a clean driver row in any round so far.

    A rows-only clean row counts as "verified" ONLY while the key still has
    no oracle: a key that gained an oracle AFTER its last driver row (e.g.
    ``bpe_encode_apply``, rows-only in r04, oracled in r06) must rank as
    unverified so the rotation surfaces it for a hash-checked row
    (VERDICT r07 item 2 — otherwise the oracle never gets exercised by
    the driver)."""
    return {
        k
        for _, k, row in correctness_rows()
        if row.get("hash_match") is True
        or (is_clean_row(row) and k not in ORACLES)
    }


def driver_latest_round() -> dict[str, int]:
    """key → round number of the NEWEST clean driver row for that key.
    Used by ``driver_order`` to rotate the oldest-verified vintages back
    into the driver's ~50-key window (VERDICT r10 item 1: a green row ages
    as the engine under it changes).  Keys never verified are absent."""
    latest: dict[str, int] = {}
    for rnd, k, row in correctness_rows():
        if is_clean_row(row):
            latest[k] = max(latest.get(k, 0), rnd)
    return latest


def _stable_repr(v) -> str:
    """Deterministic repr for module-level constants entering the closure
    fingerprint.  Sets sort their element reprs (plain ``repr`` iterates in
    PYTHONHASHSEED-dependent order, which would mark every caller of a
    set-constant permanently stale across processes); containers recurse;
    non-value leaves (functions, sessions, …) degrade to their type name so
    an address-bearing ``repr`` can never enter the hash."""
    if isinstance(v, (set, frozenset)):
        return "{" + ", ".join(sorted(_stable_repr(x) for x in v)) + "}"
    if isinstance(v, dict):
        return (
            "{"
            + ", ".join(
                f"{_stable_repr(k)}: {_stable_repr(x)}" for k, x in v.items()
            )
            + "}"
        )
    if isinstance(v, (list, tuple)):
        inner = ", ".join(_stable_repr(x) for x in v)
        return f"[{inner}]" if isinstance(v, list) else f"({inner})"
    if isinstance(v, (str, bytes, int, float, bool, type(None))):
        return repr(v)
    return f"<{type(v).__module__}.{type(v).__name__}>"


_CONST_SRC_CACHE: dict[str, dict[str, str]] = {}


def _const_srcs(mod_name: str) -> dict[str, str]:
    """name → top-level assignment SOURCE TEXT for a module's constants.

    The closure fingerprints a referenced constant by the text that
    defines it, not its runtime value: values computed at import time from
    the environment (``_TMP_ROOT = …os.getpid()…``) differ per process and
    would mark their callers permanently stale.  The assignment text is
    exactly what an edit changes.  Names bound by ``from x import Y``
    (no top-level assignment here) fall back to ``_stable_repr`` of the
    value in ``closure_sources``."""
    import ast
    import inspect
    import sys

    cached = _CONST_SRC_CACHE.get(mod_name)
    if cached is not None:
        return cached
    out: dict[str, str] = {}
    m = sys.modules.get(mod_name)
    if m is not None:
        try:
            src = inspect.getsource(m)
            for node in ast.parse(src).body:
                if isinstance(node, ast.Assign):
                    names = [
                        t.id for t in node.targets if isinstance(t, ast.Name)
                    ]
                elif isinstance(
                    node, (ast.AnnAssign, ast.AugAssign)
                ) and isinstance(node.target, ast.Name):
                    names = [node.target.id]
                else:
                    continue
                seg = ast.get_source_segment(src, node) or ""
                for n in names:
                    out[n] = seg
        except (OSError, TypeError, SyntaxError):
            pass
    _CONST_SRC_CACHE[mod_name] = out
    return out


def closure_sources(fn) -> dict[str, str]:
    """tag → source text (or constant text) for ``fn`` plus every
    package-local helper and constant its CODE references.

    An edit to a shared helper (``llm_ops.minhash_pairs``, ``io.load``'s
    derived columns, …) must mark every caller stale, so the fingerprint
    covers the transitive closure, not just the builder's own text
    (VERDICT r12 item 3).  Names come from one ``ast.walk`` over each
    source: ``Name`` ids that resolve in the function's global namespace
    (f-string expressions included — that is how oracle decorators reach
    ``_AUG_SQL``), ``mod.attr`` attributes whose ``mod`` is bound to a
    package module (by the globals or an in-body import), plus ``import``
    / ``from … import`` statements, which bind inside a body and never
    reach ``__globals__`` (the streaming admission family's ``_split``,
    ``sql_api.sql``, …).  Any other attribute — a method call such as
    ``readStream….load()``, a field — names nothing here.  Docstrings,
    comments and string literals are not code: a helper named only in
    prose is not part of the closure, so editing it stales no key that
    merely mentions it.

    Package-local functions and classes recurse; plain-value constants
    contribute their assignment text (``_const_srcs``); a plain ``import
    pkg.mod`` folds that whole module's source.  Only modules inside this
    package count, and the registry itself is EXCLUDED — ``register``
    appears in every decorator line, and rotation-bookkeeping edits must
    not mark every operator stale."""
    import ast
    import importlib
    import importlib.util
    import inspect
    import sys
    import textwrap

    value_types = (str, bytes, int, float, bool, tuple, list, dict, set,
                   frozenset)
    pkg = __name__.split(".")[0]

    def in_pkg(mod: str) -> bool:
        # package-BOUNDARY match (ADVICE r14/r15): a bare prefix would also
        # take a foreign module such as "bigdatawork_spark_extras"
        return (mod == pkg or mod.startswith(pkg + ".")) and mod != __name__

    out: dict[str, str] = {}
    seen: set[str] = set()
    stack = [fn]

    def take(obj, owner: str, name: str) -> None:
        if inspect.isfunction(obj) or inspect.isclass(obj):
            if in_pkg(getattr(obj, "__module__", "") or ""):
                stack.append(obj)
        elif isinstance(obj, value_types):
            ctag = f"const:{owner}.{name}"
            if ctag not in seen:
                seen.add(ctag)
                # assignment text when the module defines it; value repr for
                # names bound there by import (see _const_srcs)
                out[ctag] = _const_srcs(owner).get(name) or _stable_repr(obj)

    while stack:
        f = stack.pop()
        mod = getattr(f, "__module__", "") or ""
        tag = f"{mod}.{getattr(f, '__qualname__', getattr(f, '__name__', '?'))}"
        if tag in seen:
            continue
        seen.add(tag)
        try:
            src = inspect.getsource(f)
        except (OSError, TypeError):  # builtins / exec'd code — fall back
            src = repr(f)
        out[tag] = src
        g = getattr(f, "__globals__", None)
        if g is None:  # classes carry no __globals__: use their module dict
            m = sys.modules.get(mod)
            g = vars(m) if m is not None else {}
        try:
            tree = ast.parse(textwrap.dedent(src))
        except SyntaxError:
            tree = ast.Module(body=[], type_ignores=[])
        names: set[str] = set()
        attrs: set[tuple[str, str]] = set()  # (base, attr) of each base.attr
        local_mods: dict[str, Any] = {}  # names an in-body import binds
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                if isinstance(node.value, ast.Name):
                    attrs.add((node.value.id, node.attr))
            elif isinstance(node, ast.Import):
                # the bound name is a module: fold the whole module's source
                # (coarse but safe — any edit to it marks the key stale)
                for alias in node.names:
                    mtag = f"module:{alias.name}"
                    if not in_pkg(alias.name) or mtag in seen:
                        continue
                    seen.add(mtag)
                    try:
                        im = sys.modules.get(alias.name) or importlib.import_module(
                            alias.name
                        )
                        out[mtag] = inspect.getsource(im)
                    except Exception:
                        out[mtag] = f"<unresolvable {alias.name}>"
            elif isinstance(node, ast.ImportFrom):
                try:
                    # relative imports resolve against the module's
                    # __package__ (ADVICE r13: for a package __init__,
                    # mod.rpartition('.') would strip the package itself)
                    owner = sys.modules.get(mod)
                    base = getattr(owner, "__package__", None) or mod.rpartition(".")[0]
                    target = importlib.util.resolve_name(
                        "." * node.level + (node.module or ""), base
                    ) if node.level else (node.module or "")
                except (ImportError, ValueError):
                    continue
                if not in_pkg(target):
                    continue
                try:
                    # import (guarded) a target not yet loaded rather than
                    # silently leaving its subtree out (ADVICE r13)
                    m = sys.modules.get(target) or importlib.import_module(target)
                except Exception:
                    continue
                for alias in node.names:
                    obj = getattr(m, alias.name, None)
                    if obj is None:  # a submodule not yet set on its package
                        obj = sys.modules.get(f"{target}.{alias.name}")
                    if inspect.ismodule(obj):
                        local_mods[alias.asname or alias.name] = obj
                    elif obj is not None and obj is not f:
                        take(obj, target, alias.name)
        cmod = g.get("__name__", mod)
        for name in sorted(names):
            obj = g.get(name)
            if obj is not None and obj is not f:
                take(obj, cmod, name)
        for base, attr in sorted(attrs):
            m = local_mods.get(base) or g.get(base)
            if inspect.ismodule(m) and in_pkg(m.__name__):
                obj = getattr(m, attr, None)
                if obj is not None and obj is not f:
                    take(obj, m.__name__, attr)
    return out


_SOURCE_HASH_CACHE: dict[str, str] = {}


def source_hash(key: str) -> str:
    """Stable fingerprint of a key's implementation: sha256 over the
    builder's source text, its oracle SQL, and the TRANSITIVE CLOSURE of
    package-local helpers/constants it references (``closure_sources``).
    Used to detect keys whose code changed AFTER their last driver-green
    row (VERDICT r05 item 2 / r06 item 5 / r12 item 3): a green row only
    certifies the source that produced it — including the helpers it ran
    through.  Memoized per process (source files cannot change under a
    running interpreter's inspect view; the cache makes driver_order's
    287-key sweep cheap)."""
    import hashlib

    cached = _SOURCE_HASH_CACHE.get(key)
    if cached is not None:
        return cached
    fn = QUERIES[key]
    parts = closure_sources(fn)
    mod = getattr(fn, "__module__", "") or ""
    root = f"{mod}.{getattr(fn, '__qualname__', getattr(fn, '__name__', '?'))}"
    h = hashlib.sha256()
    h.update(parts.get(root, repr(fn)).encode())
    h.update(b"\x00")
    h.update(ORACLES.get(key, "").encode())
    for tag in sorted(t for t in parts if t != root):
        h.update(b"\x01" + tag.encode() + b"\x02" + parts[tag].encode())
    digest = h.hexdigest()
    _SOURCE_HASH_CACHE[key] = digest
    return digest


def _verified_hashes(path: str | None = None) -> dict[str, str]:
    """key → source_hash recorded when the key was last verified
    (VERIFIED_HASHES.json, maintained by tools/update_verified_hashes.py
    at round START, before any code edits)."""
    import json
    import os

    if path is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        path = os.path.join(root, "VERIFIED_HASHES.json")
    try:
        with open(path) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {}
    return data if isinstance(data, dict) else {}


def driver_order(
    d: dict[str, Any], *, _hash_file: str | None = None
) -> dict[str, Any]:
    """Reorder a registry dict for the driver's truncated per-round run.

    Self-rotating across rounds, five tiers:
      0. never driver-verified SURVEY §2 contract keys
      1. never driver-verified extras
      2. verified but STALE — the recorded ``source_hash`` differs from
         the current one (a green row certifies only the source that
         produced it; VERDICT r05 item 2)
      3. verified streaming keys whose newest clean row is
         >= STREAMING_CADENCE rounds old (VERDICT r11 item 4)
      4. verified and unchanged
    so each round's ~50-key budget lands on fresh-or-changed keys with no
    manual reshuffling.  Within tiers 2-4 keys sort by the round of their
    NEWEST clean driver row ascending (oldest vintage first — VERDICT r10
    item 1: a green row ages as the engine under it changes).  Remaining
    ties keep registration order.  Keys absent from ``d`` (e.g. rows-only
    keys when ordering ORACLES) are skipped."""
    verified = driver_verified_keys()
    recorded = _verified_hashes(_hash_file)
    vintage = driver_latest_round()
    upcoming = max(vintage.values(), default=0) + 1

    def rank(k: str):
        rnd = vintage.get(k, 0)
        if k not in verified:
            return (0 if k in CONTRACT_KEYS else 1, 0)
        if recorded.get(k) != source_hash(k):
            return (2, rnd)
        if is_streaming_key(k) and rnd <= upcoming - STREAMING_CADENCE:
            return (3, rnd)
        return (4, rnd)

    # dict preserves registration order; stable sort keeps it as the tiebreak
    return {k: d[k] for k in sorted(d, key=rank)}


def register(key: str, oracle: str | None = None, *, streaming: bool = False):
    """Register a query builder under ``key``; optionally its oracle SQL.

    Oracle SQL must alias every computed column identically to the Spark
    builder (SURVEY.md §5.3.1) and round floats on both sides (§5.3.2).
    ``streaming=True`` marks a builder that drives Structured Streaming
    from OUTSIDE the ``streaming`` package, putting it on the
    every-other-round driver re-sample cadence (``is_streaming_key``)."""

    def deco(fn):
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLES[key] = oracle.strip()
        fn.query_key = key
        if streaming:
            fn.drives_stream = True
        return fn

    return deco
