"""Registry-wide plan lint — scale guards over EVERY oracled key — and the
owner lints that keep each concern in one place, in package source and in
the test suite's layout.

Complements tests/test_plans.py (deep assertions on headline shapes) with a
broad sweep: no operator may regress into a cartesian product, and the slow
Python-eval paths may appear only where they ARE the contract surface or an
intentional bounded-broadcast pattern.  Plans are built, never executed, so
the sweep stays cheap relative to the differential tests.
"""

from __future__ import annotations

import ast
import re

import pytest

from bigdatawork_spark.plans.explain import plan_string
from bigdatawork_spark.registry import ORACLES, QUERIES

# Row-at-a-time Python evaluation: only the keys whose contract IS the plain
# Python UDF/UDTF surface (SURVEY §2-J).  Everything else must stay JVM-side
# or Arrow-batched.
ROW_PYTHON_OK = {"udf_python", "udtf_python", "sql_udf_register"}

# BroadcastNestedLoopJoin: legitimate only when one side is provably tiny —
# a 1-row corpus-stats fold (crossJoin(broadcast(stats))), a bounded probe
# set, or the cross-join contract key itself.  Each key's docstring states
# which.  Anything outside this list is an accidental unbounded NL join.
BNLJ_OK = {
    "join_cross",               # §2-C contract: 5×25 bounded cross
    "bm25_rank",                # 1-row corpus stats × docs (search_ops)
    "text_unigram_logprob",     # 1-row corpus stats fold
    "vocab_build",              # 1-row n_docs fold (df-bound threshold)
    "ks_test_drift",            # 1-row sample-size fold (ECDF denominators)
    "sample_negative_pairs",    # 1-row corpus-count fold (modulus base)
    "mixture_resample",         # per-source target-rate stats fold
    "vector_quantize",          # 1-row global min/max fold
    "sim_ann_ivf",              # k-centroid broadcast assign/probe
    "skyline_pareto",           # bounded candidate set after pre-filter
    "q11_important_stock",      # TPC-H Q11 scalar-subquery threshold fold
    "q22_dormant_customers",    # TPC-H Q22 scalar avg-acctbal fold
    "dsir_importance_resample",  # 1-row vocab/count scalars fold (staged r06)
    "lm_perplexity_score",      # 1-row vocab-size fold into the LM smoother
    "dedup_winnow_pairs",       # 1-row n_docs fold (relative stop-fp cap)
    "dedup_ngram_jaccard",       # 1-row n_trunc_blocks audit fold (r08 cap)
    "quality_classifier_nb",    # vocab×|classes| model grid + 1-row folds (r7)
    "mixture_epoch_plan",       # 1-row weight-denominator fold (r7)
    "rank_fusion_rrf",          # 1-row corpus-stats + 1-row query-vector folds
}

# Keys whose builders run Spark jobs at construction time (table-format
# commits, iterative loops); plan text is still linted but they dominate
# the sweep's wall-clock, so they are built last / tolerated slow.
_SLOW_BUILD = {"source_python_stream"}

# Single-partition (global) windows: every ranked row flows through ONE
# reducer — the classic local-green/cluster-dead shape (the r05 DSIR top-k
# draft had exactly this and was rewritten to TakeOrderedAndProject).
# Allowed only where the SEMANTICS are inherently corpus-global and the
# docstring states the 100 TB substitute:
GLOBAL_WINDOW_OK = {
    "win_percent_cume",  # §2-E contract: global percent_rank/cume_dist demo
    "win_range_frame",   # §2-E contract: global RANGE frame demo
    "ks_test_drift",     # exact two-sample ECDF needs the global value order
}


def _has_global_window(plan: str) -> bool:
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Window" in ln or "WindowGroupLimit" in ln:
            for la in lines[i + 1 : i + 4]:
                if "Exchange SinglePartition" in la:
                    return True
    return False


# Rows-only keys whose plans are linted with the oracled ones: builders that
# plan without running jobs, so the sweep stays cheap.
LINTED_ROWS_ONLY = {"embedding_pca_gram"}


def test_no_cartesian_and_bounded_python_eval(spark, sf_dir):
    offenders: list[str] = []
    for key in sorted(set(ORACLES) | LINTED_ROWS_ONLY):
        plan = plan_string(QUERIES[key](spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append(f"{key}: CartesianProduct")
        if "BatchEvalPython" in plan and key not in ROW_PYTHON_OK:
            offenders.append(f"{key}: BatchEvalPython outside §2-J contract")
        if "BroadcastNestedLoopJoin" in plan and key not in BNLJ_OK:
            offenders.append(f"{key}: unlisted BroadcastNestedLoopJoin")
        if _has_global_window(plan) and key not in GLOBAL_WINDOW_OK:
            offenders.append(f"{key}: single-partition global window")
    assert not offenders, (
        "scale-guard regressions (fix the plan or, for a new intentional "
        "bounded-broadcast, extend the whitelist WITH a docstring reason):\n"
        + "\n".join(offenders)
    )


@pytest.mark.parametrize("key", sorted(BNLJ_OK & set(ORACLES)))
def test_bnlj_whitelist_keys_still_use_bnlj_or_better(key, spark, sf_dir):
    """Whitelist hygiene: a whitelisted key that no longer produces a BNLJ
    (e.g. rewritten to a hash join) should be removed from the list so the
    guard stays tight.  Broadcast/hash forms are BETTER, so this is a
    warning-level xfail rather than a hard failure."""
    plan = plan_string(QUERIES[key](spark, sf_dir))
    if "BroadcastNestedLoopJoin" not in plan:
        pytest.xfail(f"{key} improved past BNLJ — drop it from BNLJ_OK")


# The memory sink keeps every result row in driver memory behind a temp
# view that lives until the session ends; it is the thing under test in
# these two keys and nowhere else (every other availableNow stream drains
# through stream_ops._drain_to_parquet).
MEMORY_SINK_OK = {"sink_stream_memory", "source_stream_rate"}


def _package_nodes(match, prune=lambda node: ()):
    """(file, top-level function) of every AST node in package source for
    which ``match(node)`` holds — a static sweep, no plans built.  The
    children of a node that ``prune(node)`` returns are not visited."""
    import pathlib

    import bigdatawork_spark

    root = pathlib.Path(bigdatawork_spark.__file__).parent
    found: list[tuple[str, str]] = []

    def visit(node, owner, rel):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            owner = node.name if owner is None else owner
        if match(node):
            found.append((rel, owner or "<module>"))
        skip = prune(node)
        for child in ast.iter_child_nodes(node):
            if not any(child is n for n in skip):
                visit(child, owner, rel)

    for path in sorted(root.rglob("*.py")):
        visit(ast.parse(path.read_text()), None, str(path.relative_to(root)))
    return found


def _package_calls(match):
    """(file, top-level function) of every call for which
    ``match(call_node)`` holds."""
    return _package_nodes(lambda node: isinstance(node, ast.Call) and match(node))


def _is_attr_call(node, attr):
    return isinstance(node.func, ast.Attribute) and node.func.attr == attr


def test_memory_sink_only_where_it_is_the_contract():
    """Static source sweep, no plans built: ``.format("memory")`` (or a
    ``format="memory"`` keyword) may appear in package source only inside
    the functions in MEMORY_SINK_OK."""

    def memory_sink(node):
        args = [kw.value for kw in node.keywords if kw.arg == "format"]
        if _is_attr_call(node, "format"):
            args += node.args[:1]
        return any(isinstance(a, ast.Constant) and a.value == "memory" for a in args)

    found = _package_calls(memory_sink)
    assert {fn for _, fn in found} == MEMORY_SINK_OK, sorted(found)


def test_stream_start_and_mtime_have_one_owner():
    """Every file-source stream starts through ``stream_ops._run_stream``
    (``sink_stream_memory``'s memory sink is its own contract), and one
    function sets trigger order: ``trigger(availableNow=True)`` appears only
    in those two functions, ``os.utime`` only in ``_stamp_trigger``."""

    def available_now(node):
        return _is_attr_call(node, "trigger") and any(
            kw.arg == "availableNow" for kw in node.keywords
        )

    def utime(node):
        return (
            _is_attr_call(node, "utime")
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "os"
        )

    found = _package_calls(available_now)
    assert {fn for _, fn in found} == {"_run_stream", "sink_stream_memory"}, found
    found = _package_calls(utime)
    assert {fn for _, fn in found} == {"_stamp_trigger"}, found


#: The owners of a package ``.cache()``: ``restage`` (every bounded-lifetime
#: staged cache), the io table cache and the hashed-documents staging memo.
CACHE_OWNERS = {
    ("session.py", "restage"),
    ("io.py", "load"),
    ("operators/curation.py", "_hashed_documents"),
}

#: Bare caches still to move onto ``restage``; each leaks one cached
#: relation per call.
CACHE_PENDING = {
    ("operators/pipeline_ops.py", "dedup_winnow_pairs"),
    ("operators/curation.py", "excise_repeated_spans"),
    ("operators/curation.py", "dedup_containment"),
    ("operators/llm_ops.py", "dedup_near_exactjacc"),
}


def test_cache_has_its_owners():
    """``.cache()`` appears in package source only in CACHE_OWNERS and the
    named CACHE_PENDING sites; a builder stages through ``restage``."""
    found = _package_calls(lambda node: _is_attr_call(node, "cache"))
    assert set(found) == CACHE_OWNERS | CACHE_PENDING, sorted(found)


#: The one owner of ``tempfile.gettempdir()``: ``io_ops._TMP_ROOT``, the
#: per-process scratch root that ``_tmp`` and ``stream_ops._fresh_dir``
#: dirs live under and that is removed at exit.
TEMPDIR_OWNERS = {("sources/io_ops.py", "<module>")}

#: Roots still to move under it; each leaves its tree behind per process.
TEMPDIR_PENDING = {("operators/reshape.py", "join_bucketed_colocated")}


def test_scratch_root_has_one_owner():
    """``tempfile.gettempdir()`` appears in package source only in
    TEMPDIR_OWNERS and the named TEMPDIR_PENDING sites."""
    found = _package_calls(lambda node: _is_attr_call(node, "gettempdir"))
    assert set(found) == TEMPDIR_OWNERS | TEMPDIR_PENDING, sorted(found)


#: The builder-side eager ``.count()`` sites left in package source.
COUNT_OWNERS = {
    # the io table cache fills its cache once per table
    ("io.py", "load"),
    # the support threshold of the heavy-hitter filter
    ("operators/aggregations.py", "agg_heavy_hitters"),
    # the four-phase audit counts admissions and the index size
    ("operators/curation.py", "dedup_index_update_idempotent"),
    # the node count is the initial rank's divisor
    ("operators/graph_ops.py", "graph_pagerank"),
    # the size guard of every all-pairs twin
    ("operators/llm_ops.py", "guard_twin_size"),
    # the IVF list count is chosen from the corpus size
    ("operators/llm_ops.py", "_ivf_assign"),
    # the rate source's wait for its first sink rows
    ("streaming/stream_ops.py", "source_stream_rate"),
}


def test_eager_count_has_its_owners():
    """A zero-argument ``.count()`` in package source is an eager Spark job
    while the DataFrame is being built; it appears only at the named
    COUNT_OWNERS sites.  A loop's change count rides on the round's own
    job through ``observe`` (``dedup_cluster_cc``, ``tfidf_keywords``)."""

    def eager_count(node):
        return _is_attr_call(node, "count") and not node.args and not node.keywords

    found = _package_calls(eager_count)
    assert set(found) == COUNT_OWNERS, sorted(found)


#: Character-trigram spellings: the regexp lookahead and the
#: ``transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))`` form.
_TRIGRAM_SPELLINGS = re.compile(
    r"\(\?=\(|substring\([^()]*,\s*i,\s*3\)|sequence\(1,\s*length\(.*\)\s*-\s*2\)"
)


def _oracle_sql(node):
    """The DuckDB side: ``@register`` decorator arguments and the shared
    connected-components oracle CTE ``_CC_REACH_SQL``."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return node.decorator_list
    if isinstance(node, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "_CC_REACH_SQL" for t in node.targets
    ):
        return [node.value]
    return ()


def test_trigram_rule_has_one_owner():
    """Package code spells the character-trigram rule only in
    ``curation.char_trigrams``: a string constant outside the oracle SQL
    holds neither the lookahead pattern nor the substring/sequence form.
    A second spelling drifts — the plain ``(?=(.{3}))`` lookahead started a
    gram on each emoji's low surrogate, which DuckDB's substr() never does."""

    def spelling(node):
        return (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and _TRIGRAM_SPELLINGS.search(node.value) is not None
        )

    found = _package_nodes(spelling, prune=_oracle_sql)
    assert set(found) == {("operators/curation.py", "char_trigrams")}, sorted(found)


def _test_sources():
    import pathlib

    return sorted(pathlib.Path(__file__).parent.glob("*.py"))


def test_test_modules_are_named_by_domain():
    """A test module is named after what it tests, never after the round
    that added it: no ``round``, no ``_rNN`` and no trailing digit.  Tests
    of a key live in ``test_<m>.py``, ``<m>`` the module registering it."""
    bad = [
        p.name
        for p in _test_sources()
        if re.search(r"round|_r\d\d|\d$", p.stem)
    ]
    assert not bad, bad


#: A DuckDB view over a fixture parquet file, spelled out.
_ORACLE_VIEW = re.compile(r"CREATE\s+VIEW\b.{0,160}?read_parquet\(", re.S)


def test_oracle_views_have_one_owner():
    """Only ``compare.oracle_con`` builds the DuckDB views an oracle SQL
    reads: no other test source spells a view over ``read_parquet``."""
    found = [
        p.name
        for p in _test_sources()
        if p.name != "compare.py" and _ORACLE_VIEW.search(p.read_text())
    ]
    assert not found, found
