"""Plan-shape regression gate over the ENTIRE contract-query surface.

Every `__spark_entry__.queries()` entry is planned at sf0.001 and checked
against the scale invariants this engine is built on:

- **No row-wise Python** (``BatchEvalPython``) anywhere, ever.
- **Arrow-batched Python** only in the sanctioned ``ARROW_OK`` queries
  (blockwise ANN, byte histogram, image/audio decode, HTML extraction —
  genuinely per-payload Python work).
- **No cartesian/nested-loop joins** except the documented broadcast-probe
  similarity baselines (probe side is a handful of rows by construction)
  and literal-grid frames (chi-square buckets, percentile probabilities).
- **No global range sorts** (a single-partition sort cannot scale).
- **Shuffle budget**: each query's Exchange count must not exceed the
  audited value recorded below.  Adding a query without adding a budget
  fails loudly — new plans get budgeted consciously, not silently.

This is the automated version of the per-round manual plan audits in
COVERAGE.md: a regression here means a rewrite changed the distributed
shape of a query, not just its wall time.
"""

import ast
import glob
import os

import pytest

import __spark_entry__ as entrymod

#: audited Exchange counts at sf0.001 (2026-08-16); budgets, not targets —
#: a count BELOW budget is an improvement, above is a regression
EXCHANGE_BUDGET = {
    "null_counts": 1,
    "unique_violations": 3,
    "bounds_violations": 1,
    "enum_violations": 1,
    "validation_report": 1,
    "derive_columns": 0,
    "fill_null_defaults": 0,
    "fill_null_forward": 1,
    "cast_columns": 0,
    "doc_fingerprints": 0,
    # exact-dedup leg (2) + full cleaning-pipeline leg (2) unioned
    "corpus_stats": 4,
    # five per-doc text panels in ONE scan; r9 adds the hash(doc_id)
    # spread of the single-split scan before the regex-heavy projection
    # (same measured 2.5x as q_quality_scores — the table arrives as one
    # parquet split, so the panel otherwise runs on one core)
    "text_metrics": 1,
    "hash_split": 1,
    "stratified_sample": 0,
    # eval-ngram distinct (1) + contaminated-set semi-join distinct (2) +
    # the final per-doc aggregate (1); the train side is scanned against a
    # broadcast eval set and never shuffles by n-gram
    "split_contamination": 5,
    # one hashpartitioning(stream) exchange + local window sort
    "pack_sequences": 1,
    # explode → tf groupBy + docfreq groupBy + term-keyed join (both
    # sides) + per-doc window, PLUS the one-row corpus-count aggregate
    # (SinglePartition partial-merge + its broadcast) that replaced the
    # separate df.count() action — 2 more plan exchanges of one row each,
    # one fewer full job
    "keyword_tfidf": 7,
    # one hashpartitioning(source) exchange + local per-group sort
    "domain_cap": 1,
    # sanctioned Arrow mapInPandas over one scan, no shuffle
    "html_extract": 0,
    # (group,value) count + distinct-value window + totals + final agg,
    # probs joined as a broadcast literal frame
    "lang_percentiles": 6,
    # pair generation + cap=2 audit over ONE shared banded frame (r6):
    # the (band,bucket) window exchange appears in both legs statically
    # (2, ReusedExchange collapses them at runtime — the signature stage
    # and text scan run once), + the audit's per-band agg, the pair
    # explode's distinct, and union packaging.  r7 adds the 'incr' leg —
    # the real incremental_minhash_pairs over a store/batch split of the
    # corpus (touched-bucket distinct + store semi join + union gate's
    # bucket window + pair distinct); its own plan shape (no SMJ, store
    # never shuffled at batch scale) is asserted in
    # test_incremental_minhash_store_never_shuffles
    "minhash_all": 13,
    "simhash_values": 1,
    "simhash_pairs": 3,
    # iterative min-label propagation: lineage is cut per round
    # (localCheckpoint), so the FINAL plan is a checkpoint scan — the
    # per-round shuffles happen during construction, one per iteration
    "near_dup_clusters": 0,
    # keep_by= canonical path: components resolve via checkpoint scans
    # (0, as above); the quality ranking runs only over pair members —
    # comps⋈docs join (2) + per-component window (1) + the corpus-side
    # anti join (3, loser side broadcasts under AQE at runtime)
    "near_dup_keep_best": 6,
    "ngram_jaccard": 1,
    # brute (2) + blockwise (1) + int8 (2) unioned for the driver artifact
    "embedding_topk_all": 5,
    # per-lang profile (2) + bucket histogram (1) unioned
    "stats_histogram": 3,
    "ri_orphans": 3,
    "events_windowed": 1,
    # batch gaps-and-islands (1) + native session_window (1) unioned
    "sessions_both": 2,
    "asof_join": 2,
    "range_join": 2,
    "time_rollup": 6,
    "rollup_partials": 1,
    "pricing_summary": 1,
    "streaming_flags": 0,
    # hot-key count + broadcast one-row total (the count() fold); top is
    # TakeOrderedAndProject, never a global sort
    "source_skew": 3,
    # dim build (1) + (source,salt)-keyed join + final per-lang agg; the
    # replicated dim broadcasts
    "salted_join": 3,
    # shared (hash, doc) aggregate appearing in BOTH detection branches
    # (2 static — ReusedExchange collapses them to one at runtime, so the
    # text is scanned once for detection; see
    # test_remove_duplicated_lines_two_scans) + dup-set count (1) + its
    # broadcast (1) + removal-index groupBy (1) + the id-keyed rewrite
    # join's broadcast (1); text shuffles at most once and never by line
    # hash
    "line_dedup": 6,
    "per_partition_report": 1,
    # r9: shuffled-hash join (both sides keyed on orderkey + the final
    # per-priority agg) replaced the orders broadcast — orders grows with
    # lineitem, so collecting it to the driver was the measured bottleneck
    # (1.6 s of 1.9 s at sf1.0) AND the wrong shape at corpus scale; the
    # two join exchanges carry projected key+payload columns only
    "orders_join_revenue": 3,
    "customer_nation_join": 3,
    "text_parity": 3,
    # parse + canonicalize, one scan, no shuffle
    "url_features": 0,
    # r6: the per-b / per-g / total marginals all derive from the shared
    # per-(g,b) aggregate instead of re-scanning base — its exchange
    # appears once per consumer STATICALLY (hence the higher static
    # count) but is materialized once at runtime (ReusedExchange; scans
    # 3 → 2, the remainder being the join-right copy whose inferred
    # isnotnull(group) filter must not leak into the marginals), and the
    # marginal exchanges now carry tiny count rows instead of full-width
    # base rows
    "chi2_drift_by_lang": 11,
    # three Arrow decode stages (each 0-exchange alone) joined on doc_id
    # for the driver artifact: two sort-merge joins at most
    "media_meta": 6,
    "embedding_near_dups": 2,
    "ks_drift_by_lang": 1,
    "ivf_topk": 2,
}

#: Arrow-batched Python is the sanctioned slow path for exactly these
ARROW_OK = {
    # blockwise ANN leg of the merged top-k union
    "embedding_topk_all",
    # image + audio decode + byte histogram, merged
    "media_meta",
    "html_extract",
}

#: broadcast nested-loop over a tiny side (probes / literal grid)
CARTESIAN_OK = {
    # brute-force + int8 legs of the merged top-k union
    "embedding_topk_all",
    "chi2_drift_by_lang",
    # broadcast of a literal 3-row probability frame
    "lang_percentiles",
    # broadcast of the one-row corpus-count aggregate (N folded into the
    # plan instead of a separate count() action)
    "keyword_tfidf",
    # broadcast of the one-row row-total aggregate (same count() fold)
    "source_skew",
}

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def plans(spark):
    out = {}
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


def test_every_query_has_an_exchange_budget(plans):
    missing = sorted(set(plans) - set(EXCHANGE_BUDGET))
    assert not missing, (
        f"new queries without an audited shuffle budget: {missing} — "
        "inspect the plan and add a conscious entry to EXCHANGE_BUDGET"
    )


def test_no_rowwise_python_anywhere(plans):
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not offenders, f"row-at-a-time Python UDF in: {offenders}"


def test_arrow_python_only_where_sanctioned(plans):
    arrow = {
        n
        for n, p in plans.items()
        if "ArrowEvalPython" in p
        or "MapInPandas" in p
        or "FlatMapGroupsInPandas" in p
    }
    assert arrow <= ARROW_OK, f"unsanctioned pandas path in: {arrow - ARROW_OK}"


def test_no_unsanctioned_cartesian_joins(plans):
    cart = {
        n
        for n, p in plans.items()
        if "CartesianProduct" in p or "BroadcastNestedLoop" in p
    }
    assert cart <= CARTESIAN_OK, f"cartesian join in: {cart - CARTESIAN_OK}"


def test_no_global_range_sorts(plans):
    offenders = [n for n, p in plans.items() if "rangepartitioning" in p.lower()]
    assert not offenders, f"global sort (range partitioning) in: {offenders}"


def _has_single_partition_sort(plan: str) -> bool:
    """True when a Sort feeds an Exchange SinglePartition — the physical
    shape of a no-keys window (``Window ← Sort ← Exchange SinglePartition``):
    the whole input funnels through ONE task.  A SinglePartition exchange
    under a final HashAggregate (tiny partial-merge of a global agg) is
    fine and deliberately not matched."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line and i > 0:
            parent = lines[i - 1]
            if "Sort " in parent or parent.strip().startswith("Sort"):
                return True
    return False


def test_no_single_partition_window_sorts(plans):
    """asof_join without by= / ordered fill without partition_by= plan a
    partitionBy(lit(1)) window; they warn at the API layer, and no contract
    query may ship one."""
    offenders = [n for n, p in plans.items() if _has_single_partition_sort(p)]
    assert not offenders, f"single-partition window sort in: {offenders}"


def test_exchange_counts_within_budget(plans):
    over = {
        n: (p.count("Exchange"), EXCHANGE_BUDGET[n])
        for n, p in plans.items()
        if n in EXCHANGE_BUDGET and p.count("Exchange") > EXCHANGE_BUDGET[n]
    }
    assert not over, f"shuffle-count regressions (got, budget): {over}"


def _module_defs(path: str) -> dict:
    """Top-level function, class and assignment nodes of a module, by name."""
    with open(path) as fh:
        tree = ast.parse(fh.read())
    defs = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            defs[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                if isinstance(target, ast.Name):
                    defs[target.id] = node
    return defs


def test_entry_registry_has_no_orphans():
    """Every ``q_*`` function is reachable from ``queries()`` or
    ``bench.HEADLINE``, and every SQL twin (``SQL_*`` / ``_sql_*``) from
    ``oracle_sql()`` — a query neither gate runs is dead weight."""
    defs = _module_defs(entrymod.__file__)
    bench = os.path.join(os.path.dirname(entrymod.__file__), "bench.py")
    headline = [
        f"q_{name}"
        for name in ast.literal_eval(_module_defs(bench)["HEADLINE"].value)
    ]
    assert set(headline) <= set(defs)

    def reach(*roots):
        seen, todo = set(), list(roots)
        while todo:
            name = todo.pop()
            if name in defs and name not in seen:
                seen.add(name)
                todo += [
                    n.id for n in ast.walk(defs[name]) if isinstance(n, ast.Name)
                ]
        return seen

    live_q = reach("queries", *headline)
    live_sql = reach("oracle_sql")
    orphans = [n for n in defs if n.startswith("q_") and n not in live_q]
    orphans += [
        n for n in defs if n.startswith(("SQL_", "_sql_")) and n not in live_sql
    ]
    assert not orphans, f"unreachable from queries()/HEADLINE/oracle_sql(): {orphans}"


#: library defs no production root reaches, kept on purpose; an entry that
#: no longer exists, or that a root now reaches, fails the test
ALLOWED = {
    "examples.pandas_examples": "patito's pandas_examples API (SURVEY.md)",
    "operators.dedup.minhash_bucket_audit": (
        "the reference test_minhash_pairs_with_audit_single_scan compares "
        "minhash_pairs_with_audit against"
    ),
    "operators.pipeline.prepare_training_corpus": (
        "the from-scratch reference of "
        "test_increment_batches_match_from_scratch_corpus"
    ),
    "plans.stats.column_profile": "README: HLL/histogram column profiles",
    "plans.stats.quantile_sketch": "README: HLL/histogram column profiles",
    "plans.drift.build_profile": "README: KS / chi-square drift",
    "plans.drift.compare_profiles": "README: KS / chi-square drift",
    "operators.sampling.deterministic_sample": (
        "named implementation of COVERAGE.md's deterministic-sampling row"
    ),
    "sources.io.write_bucketed_table": (
        "named implementation of COVERAGE.md's bucketed-joins row"
    ),
    "testing.synth_domains": "the F2 dimension fixture (FIXTURES.md)",
}


def _names_used(tree: ast.AST) -> set:
    """Every ``Name``, ``Attribute`` and import-alias name in *tree*.
    String constants (docstrings included) never count."""
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.alias):
            used.add(node.name.rsplit(".", 1)[-1])
    return used


def test_library_has_no_orphans():
    """Every module-level function, class and UPPER_CASE constant of
    ``patito_spark`` is reachable from a production root, or listed in
    ``ALLOWED`` with a reason — library code only tests reach is dead.

    Roots: every name the entry, bench and perfbench scripts use, every
    def of ``jobs.py`` and ``submit.py``, every package ``__all__`` and
    ``plans.runner.ValidationRunner``.  A name reaches every def of that
    name in any module, so a name collision can hide an orphan but never
    invent one; a reached class keeps all of its methods' references."""
    repo = os.path.dirname(entrymod.__file__)
    pkg = os.path.join(repo, "patito_spark")
    defs, exported = {}, set()
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        parts = os.path.relpath(path, pkg)[: -len(".py")].split(os.sep)
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
                if parts[-1] == "__init__" and "__all__" in names:
                    exported |= set(ast.literal_eval(node.value))
                names = [n for n in names if n == n.upper()]
            else:
                continue
            for name in names:
                defs[".".join([p for p in parts if p != "__init__"] + [name])] = node
    by_name = {}
    for key in defs:
        by_name.setdefault(key.rsplit(".", 1)[-1], []).append(key)

    def reach(start):
        seen, todo = set(), list(start)
        while todo:
            key = todo.pop()
            if key not in seen:
                seen.add(key)
                todo += [k for n in _names_used(defs[key]) for k in by_name.get(n, ())]
        return seen

    scripts = ["__spark_entry__.py", "bench.py", "bench_extra.py"]
    scripts += glob.glob(os.path.join(repo, "perfbench", "*.py"))
    used = set(exported)
    for script in scripts:
        with open(os.path.join(repo, script)) as fh:
            used |= _names_used(ast.parse(fh.read()))
    roots = [k for n in used for k in by_name.get(n, ())]
    roots += [k for k in defs if k.split(".")[0] in ("jobs", "submit")]
    roots.append("plans.runner.ValidationRunner")
    live = reach(roots)

    stale = sorted(k for k in ALLOWED if k not in defs or k in live)
    assert not stale, f"ALLOWED entries that are gone or now reached: {stale}"
    orphans = sorted(set(defs) - live - reach(ALLOWED))
    assert not orphans, (
        "library code only tests reach (delete it, or add it to ALLOWED "
        f"with a reason): {orphans}"
    )


#: the store-backend calls only ``sources/store.py`` makes: the Hadoop
#: FileSystem, the catalog lookup and the partition protocol of the slot stores
STORE_BACKEND_CALLS = (
    "getFileSystem",
    "catalog.tableExists",
    "SHOW PARTITIONS",
    "partitionOverwriteMode",
)


def test_store_backends_live_in_one_module():
    """No module under ``plans/`` or ``streaming/`` decides between a
    directory and a catalog table itself: the runner checkpoint and the
    ingest stores reach both backends only through ``sources/store.py``."""
    pkg = os.path.join(os.path.dirname(entrymod.__file__), "patito_spark")
    found = []
    for sub in ("plans", "streaming"):
        for path in glob.glob(os.path.join(pkg, sub, "*.py")):
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Attribute):
                    text = ast.unparse(node)
                elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                    text = node.value
                else:
                    continue
                found += [
                    f"{os.path.relpath(path, pkg)}:{node.lineno}: {call}"
                    for call in STORE_BACKEND_CALLS
                    if call in text
                ]
    assert not found, f"store backend calls outside sources/store.py: {found}"
