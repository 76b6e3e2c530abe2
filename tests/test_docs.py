"""Structural locks for the two r9 hygiene defects (VERDICT r9 #1).

1. README's stated query count drifted twice (r8: three docs, r9: one
   count) — assert it against the live registry so it can't go stale.
2. A redefined module-level SQL helper silently shadows every earlier
   query that calls it (Python late binding broke x_k_anonymity in r9);
   the @_q decorator raises on duplicate *query* names but nothing
   guarded duplicate *helper* names — scan the module AST for them.

A third scan keeps every ``@_q`` block that ``_dual``/``_shared`` can
register folded into that narrower form, a fourth keeps every read
of a testdata table on ``sources/tables.py``'s loaders, a fifth keeps
stream staging, the foreachBatch run and the version-pointer store in
their one helper each, a sixth keeps every directory the engine
writes on ``plans/tmpstore.py``, a seventh keeps the ``operators``
package free of submodule imports, and an eighth keeps the media
family's payload synthesis, per-row ``mapInPandas`` and RIFF walk in
their one helper each.
"""

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_readme_query_count_matches_registry():
    from duckdb_title_mapper_spark.workload import all_queries

    with open(os.path.join(REPO, "README.md")) as f:
        readme = f.read()
    m = re.search(r"## Declared query surface \((\d+) queries", readme)
    assert m, "README lost its query-count heading"
    assert int(m.group(1)) == len(all_queries()), (
        f"README says {m.group(1)} queries; registry has "
        f"{len(all_queries())} — update README.md's heading"
    )


def test_no_duplicate_toplevel_defs_in_workload():
    """Any duplicated top-level def rebinds the name for every earlier
    caller at call time (late binding) — the x_k_anonymity failure mode.
    Covers _foo_sql helpers AND query functions alike."""
    path = os.path.join(REPO, "duckdb_title_mapper_spark", "workload.py")
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    seen, dups = {}, {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.name in seen:
                dups.setdefault(node.name, [seen[node.name]]).append(
                    node.lineno)
            else:
                seen[node.name] = node.lineno
    assert not dups, f"duplicate top-level defs in workload.py: {dups}"


def _is_view_registration(stmt) -> bool:
    """``register_views(spark, sf_dir, ...)`` or its one-table spelling
    ``load(spark, sf_dir, "t").createOrReplaceTempView("t")``."""
    if not (isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Call)):
        return False
    call = stmt.value
    if isinstance(call.func, ast.Name):
        return call.func.id == "register_views"
    if not (isinstance(call.func, ast.Attribute)
            and call.func.attr == "createOrReplaceTempView"):
        return False
    loader = call.func.value
    return (isinstance(loader, ast.Call)
            and isinstance(loader.func, ast.Name) and loader.func.id == "load"
            and len(loader.args) == 3 and len(call.args) == 1
            and ast.dump(loader.args[2]) == ast.dump(call.args[0]))


def _builder_call(expr):
    """``(name, [arg dumps])`` for a bare ``name(args)`` call, else None."""
    if (isinstance(expr, ast.Call) and isinstance(expr.func, ast.Name)
            and not expr.keywords):
        return expr.func.id, [ast.dump(a) for a in expr.args]
    return None


def test_no_q_block_has_the_dual_or_shared_shape():
    """An ``@_q`` block that only registers views and runs ``spark.sql``
    on one builder — oracle ``h(False)`` against Spark ``h(True)``, or
    ``h()`` on both sides — is exactly what ``_dual(name, h, tables,
    doc)`` / ``_shared(name, h(), tables, doc)`` register, so it must use
    that narrower form."""
    path = os.path.join(REPO, "duckdb_title_mapper_spark", "workload.py")
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    false, true = ast.dump(ast.Constant(False)), ast.dump(ast.Constant(True))
    foldable = []
    for node in tree.body:
        if not (isinstance(node, ast.FunctionDef)
                and len(node.decorator_list) == 1 and len(node.body) == 2):
            continue
        deco = node.decorator_list[0]
        if not (isinstance(deco, ast.Call) and isinstance(deco.func, ast.Name)
                and deco.func.id == "_q" and len(deco.args) >= 2):
            continue
        reg, ret = node.body
        if not (_is_view_registration(reg) and isinstance(ret, ast.Return)
                and isinstance(ret.value, ast.Call)
                and isinstance(ret.value.func, ast.Attribute)
                and ret.value.func.attr == "sql"
                and len(ret.value.args) == 1):
            continue
        spark_side = _builder_call(ret.value.args[0])
        oracle_side = _builder_call(deco.args[1])
        if (spark_side and oracle_side and spark_side[0] == oracle_side[0]
                and (oracle_side[1], spark_side[1])
                in (([false], [true]), ([], []))):
            foldable.append(f"{node.name} (line {node.lineno})")
    assert not foldable, (
        "@_q blocks with the _dual/_shared shape — register them with "
        f"_dual/_shared instead: {foldable}"
    )


def test_testdata_is_read_only_through_the_table_loaders():
    """``load_table``/``register_views`` serve a testdata table from the
    footer-schema memo; a direct ``spark.read.parquet(f"{sf_dir}/...")``
    re-runs Spark's footer-inference job on every call."""
    pkg = os.path.join(REPO, "duckdb_title_mapper_spark")
    loader = os.path.join(pkg, "sources", "tables.py")
    assert os.path.isfile(loader)
    direct = re.compile(r'read\.parquet\(\s*f"\{sf_dir\}/')
    hits = []
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == loader:
                continue
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if direct.search(line):
                        hits.append(f"{os.path.relpath(path, REPO)}:{i}")
    assert not hits, (
        "read testdata through load_table/register_views, not "
        f"spark.read.parquet: {hits}"
    )


def test_copurchase_pairs_are_spelled_once():
    """The DISTINCT co-purchase pair join is defined once, as
    ``operators/graph.COPURCHASE_PAIRS_SQL`` (the Spark-side store
    writes it); an oracle that spells it again can drift from the
    relation the Spark side reads."""
    spelled = re.compile(
        r"DISTINCT\s+a\.l_partkey\s+AS\s+s,\s*b\.l_partkey\s+AS\s+d\s+"
        r"FROM\s+lineitem\s+a\s+JOIN\s+lineitem\s+b\b")
    path = os.path.join(REPO, "duckdb_title_mapper_spark", "workload.py")
    with open(path) as f:
        src = f.read()
    hits = [src.count("\n", 0, m.start()) + 1
            for m in spelled.finditer(src)]
    assert not hits, (
        "read COPURCHASE_PAIRS_SQL instead of spelling the pair join: "
        f"workload.py lines {hits}"
    )


# The one site of each streaming idiom: the slice stager (staging root,
# ``.staged`` marker, ``_build_`` dirs), the foreachBatch driver and the
# ``CURRENT`` pointer store.  ``windows._stage_stream_dir`` is the
# symlink stager perfbench replaces from outside, so it keeps its root.
_STREAM_HELPERS = {
    ("streaming", "staging.py"): {"stage_path", "stage_slices"},
    ("streaming", "windows.py"): {"_stage_stream_dir"},
    ("streaming", "sinks.py"): {"run_foreach_batch", "current_store",
                                "publish_version"},
}
_STREAM_IDIOMS = re.compile(
    r'store_path\("stream"|\.staged|_build_|"CURRENT"'
    r"|foreachBatch\(")


def test_stream_idioms_live_in_their_helpers():
    """Outside the helpers no module spells the staging root, the
    ``.staged`` marker, a ``_build_`` dir, the ``CURRENT`` pointer or a
    ``foreachBatch(`` call: a stream stages through
    ``staging.stage_slices`` and runs through ``sinks.run_foreach_batch``
    / ``publish_version``, so a fix to either lands everywhere at once
    (the copies had drifted: one stager lacked the row assertion, one
    left its build dirs behind, and the pointer store double-counted a
    redelivered ADD batch).  The memory and parquet file sinks are other
    sinks and keep their own ``availableNow`` runs."""
    pkg = os.path.join(REPO, "duckdb_title_mapper_spark")
    hits = []
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                src = f.read()
            allowed = _STREAM_HELPERS.get(
                (os.path.basename(root), name), set())
            spans = [(n.lineno, n.end_lineno)
                     for n in ast.parse(src, filename=path).body
                     if isinstance(n, ast.FunctionDef) and n.name in allowed]
            for i, line in enumerate(src.splitlines(), 1):
                if (_STREAM_IDIOMS.search(line)
                        and not any(a <= i <= b for a, b in spans)):
                    hits.append(f"{os.path.relpath(path, REPO)}:{i}")
    assert not hits, (
        "stage through staging.stage_slices and run foreachBatch streams "
        f"through sinks.run_foreach_batch / publish_version: {hits}"
    )


# The one site of each media idiom in ``operators/multimodal.py``: the
# md5-of-text seed (synthesizer), the RIFF chunk unpack (WAV walker) and
# ``mapInPandas`` (row mapper, plus the ``sample_frames`` explode).
_MEDIA_HELPERS = {"_synth_media", "_wav_pcm16_samples", "_map_rows",
                  "sample_frames"}
_MEDIA_IDIOMS = re.compile(
    r"md5\(text\.encode\(\)\)|\"<4sI\"|\.mapInPandas\(")


def test_media_idioms_live_in_their_helpers():
    """Outside its helpers ``operators/multimodal.py`` seeds no payload
    from ``md5(text)``, walks no RIFF chunk and calls no
    ``mapInPandas``: a media table is an ``encode`` given to
    ``_synth_media``, a decoder a row function given to ``_map_rows``,
    and every WAV reader goes through ``_wav_pcm16_samples`` (nine
    builders, nine per-row decoders and three chunk walks had each
    carried a copy)."""
    path = os.path.join(REPO, "duckdb_title_mapper_spark", "operators",
                        "multimodal.py")
    with open(path) as f:
        src = f.read()
    spans = [(n.lineno, n.end_lineno)
             for n in ast.parse(src, filename=path).body
             if isinstance(n, ast.FunctionDef) and n.name in _MEDIA_HELPERS]
    hits = [i for i, line in enumerate(src.splitlines(), 1)
            if _MEDIA_IDIOMS.search(line)
            and not any(a <= i <= b for a, b in spans)]
    assert not hits, (
        "synthesize through _synth_media, decode through _map_rows and "
        f"walk RIFF through _wav_pcm16_samples: multimodal.py lines {hits}"
    )


_DIR_IDIOMS = re.compile(
    r'store_root\(|defer_rmtree\(|mkdtemp\(|"/tmp/duckdb_title_mapper_spark')


def _app_keyed_caches(tree, src):
    """Module-level ``_*_CACHE = {}`` dicts of a module that reads
    ``applicationId`` — a per-session store of its own."""
    if "applicationId" not in src:
        return []
    out = []
    for node in tree.body:
        targets = (node.targets if isinstance(node, ast.Assign)
                   else [node.target] if isinstance(node, ast.AnnAssign)
                   else [])
        for t in targets:
            if (isinstance(t, ast.Name) and re.fullmatch(r"_\w+_CACHE", t.id)
                    and isinstance(node.value, (ast.Dict, ast.Call))):
                out.append(node.lineno)
    return out


def test_written_dirs_live_in_tmpstore():
    """Outside ``plans/tmpstore.py`` no module spells a store root, a
    deferred removal, a ``mkdtemp`` or the ``/tmp`` root, and none keeps
    a session-keyed ``_*_CACHE`` dict: a cross-query relation goes
    through ``versioned_store``, a throwaway dir through ``scratch_dir``
    and a persistent named dir through ``store_path``.  The six
    hand-written stores had drifted (three keyed their cache on the raw
    ``sf_dir`` but their files on its real path, so a second spelling
    overwrote a live version), and the ``mkdtemp`` dirs were never
    removed."""
    pkg = os.path.join(REPO, "duckdb_title_mapper_spark")
    owner = os.path.join(pkg, "plans", "tmpstore.py")
    assert os.path.isfile(owner)
    hits = []
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == owner:
                continue
            with open(path) as f:
                src = f.read()
            rel = os.path.relpath(path, REPO)
            hits += [f"{rel}:{i}" for i, line in
                     enumerate(src.splitlines(), 1) if _DIR_IDIOMS.search(line)]
            hits += [f"{rel}:{i} (_*_CACHE)" for i in _app_keyed_caches(
                ast.parse(src, filename=path), src)]
    assert not hits, (
        "write dirs through plans/tmpstore (versioned_store / scratch_dir "
        f"/ store_path): {hits}"
    )


def test_operators_package_imports_no_submodule():
    """``operators/__init__.py`` imports none of its submodules.  Every
    Python worker that unpickles the standardize UDF imports this
    package; a re-export there pulled ``multimodal`` and, through it,
    pandas into every such worker (~28 MB resident each)."""
    path = os.path.join(REPO, "duckdb_title_mapper_spark", "operators", "__init__.py")
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    hits = [node.lineno for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom) and (
                node.level or (node.module or "").startswith("duckdb_title_mapper_spark"))
            or isinstance(node, ast.Import) and any(
                a.name.startswith("duckdb_title_mapper_spark") for a in node.names)]
    assert not hits, f"operators/__init__.py imports a submodule at lines {hits}"
