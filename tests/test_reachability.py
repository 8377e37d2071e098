"""Every package def is reached from an entry point, or it is allow-listed.

The roots are the three entry points: the restructure CLI and service
(``restructure_hdfs_topic_spark/__main__.py``), the query registry
(``__spark_entry__.py`` and its ``bench.py``) and the benchmark (every file
under ``perfbench/``).  From them the guard follows imports and names:

- a package module is imported when a root, the top-level statements of an
  imported module or a reachable def imports it (a submodule import also
  imports its parents);
- a top-level def (function or class) of an imported module is reachable
  when its name is referenced as a ``Name``, an ``Attribute`` or an import
  alias from a root, from the top-level statements of an imported module,
  or from a reachable def;
- string constants in root files count as names, dotted ones part by part
  (``perfbench/layers.py`` wraps functions by string), and a string naming
  a package module imports it; strings in package modules, ``__all__``
  included, reference nothing.

The match is by name, so a reference reaches every def of that name in an
imported module.  A def no root reaches either goes, or it gets an entry in
``ALLOWED`` with a one-line reason.
"""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "restructure_hdfs_topic_spark"


def _root_files(repo: pathlib.Path, package: str) -> list[pathlib.Path]:
    return [
        repo / package / "__main__.py",
        repo / "__spark_entry__.py",
        repo / "bench.py",
        *sorted((repo / "perfbench").rglob("*.py")),
    ]


def _module_name(repo: pathlib.Path, path: pathlib.Path) -> str:
    parts = list(path.relative_to(repo).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _split(body):
    """``(defs, top)``: the top-level defs of a module body by name, and
    the statements that run at import (decorators, defaults and class
    bases included; ``if``/``try`` blocks are looked into)."""
    defs, top = {}, []
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs[node.name] = node
            top.extend(node.decorator_list)
            if isinstance(node, ast.ClassDef):
                top.extend([*node.bases, *node.keywords])
            else:
                top.extend([*node.args.defaults, *[d for d in node.args.kw_defaults if d]])
        elif isinstance(node, (ast.If, ast.Try)):
            blocks = [node.body, node.orelse]
            if isinstance(node, ast.Try):
                blocks += [node.finalbody, *[h.body for h in node.handlers]]
                top.extend(h.type for h in node.handlers if h.type)
            else:
                top.append(node.test)
            for block in blocks:
                d, t = _split(block)
                defs.update(d)
                top.extend(t)
        else:
            top.append(node)
    return defs, top


def unreachable(repo: pathlib.Path, package: str, keep=()) -> set[str]:
    """``module:name`` of every top-level def in ``package`` that no root
    reaches under the rule in this module's docstring.  The ``keep`` defs
    (``module:name``) count as reached, and so does what they reach."""
    modules = {}  # module name -> (its relative-import anchor, defs, top-level statements)
    for path in sorted((repo / package).rglob("*.py")):
        name = _module_name(repo, path)
        anchor = name if path.name == "__init__.py" else name.rpartition(".")[0]
        modules[name] = (anchor, *_split(ast.parse(path.read_text(), str(path)).body))

    imported, live, names = set(), set(), set()

    def import_module(name):
        parts = name.split(".")
        prefixes = (".".join(parts[:i]) for i in range(1, len(parts) + 1))
        imported.update(p for p in prefixes if p in modules)

    def scan(nodes, anchor, is_root=False):
        """Add the names ``nodes`` reference and the modules they import;
        ``anchor`` is the package their relative imports resolve in."""
        for tree in nodes:
            for node in ast.walk(tree):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, ast.Import):
                    for alias in node.names:
                        import_module(alias.name)
                        names.update(alias.name.split("."))
                elif isinstance(node, ast.ImportFrom):
                    base = node.module or ""
                    if node.level:
                        up = anchor.split(".")[: len(anchor.split(".")) - node.level + 1]
                        base = ".".join([*up, *([base] if base else [])])
                    import_module(base)
                    for alias in node.names:
                        import_module(f"{base}.{alias.name}")
                        names.add(alias.name)
                elif is_root and isinstance(node, ast.Constant) and isinstance(node.value, str):
                    import_module(node.value)
                    names.update(node.value.split("."))

    roots = {_module_name(repo, p): p for p in _root_files(repo, package) if p.exists()}
    for name, path in roots.items():
        scan([ast.parse(path.read_text(), str(path))], name.rpartition(".")[0], is_root=True)
    for entry in keep:
        module, name = entry.split(":")
        module = f"{package}.{module}"
        import_module(module)
        live.add((module, name))
        scan([modules[module][1][name]], modules[module][0])
    scanned = set(roots)
    while True:
        for module in sorted(imported - scanned):
            scanned.add(module)
            scan(modules[module][2], modules[module][0])
        fresh = [
            (module, name, node)
            for module in sorted(imported - set(roots))
            for name, node in modules[module][1].items()
            if name in names and (module, name) not in live
        ]
        if not fresh and imported <= scanned:
            break
        for module, name, node in fresh:
            live.add((module, name))
            scan([node], modules[module][0])
    return {
        f"{module.removeprefix(package + '.')}:{name}"
        for module, (_p, defs, _t) in modules.items()
        if module not in roots
        for name in defs
        if (module, name) not in live
    }


# module:def -> why it stays although no root reaches it.  What an entry
# reaches counts as reached, so a kept def's helpers need no entry.  Three
# kinds stay: a reference feature not wired to an entry point yet, fault
# recovery or physical purge (safety code), and a test reference (a def a
# test of live code uses to build its input or check its output; the entry
# names the test).  The deferred entries are deletions that take their own
# tests with them; they go a few groups at a time.
_FEATURE = "reference feature, not wired to an entry point yet: "
_SAFETY = "fault recovery or physical purge, run by an operator: "
_TESTREF = "test reference: "
_DEFERRED = "deferred deletion, its tests go with it: "
ALLOWED: dict[str, str] = {
    "redis_backends:RedisLockManager": _FEATURE + "O17/O19 Redis lock backend",
    "redis_backends:RedisOffsetPersistence": _FEATURE + "O17/O19 Redis offset store",
    "plugins:load_plugin": _FEATURE + "O29 plugin classes named in the config",
    "sources.avro:s3_tag_end_offset_reader": _FEATURE + "S3 endOffset object tag",
    "sources.avro:azure_metadata_end_offset_reader": _FEATURE + "Azure endOffset blob metadata",
    "plans.quarantine:quarantine_corrupt_targets": _FEATURE + "O25 corrupt-target quarantine",
    "operators.bm25_index:repair_bm25_index": _SAFETY + "sweeps orphan BM25 generations",
    "operators.bm25_index:compact_bm25_index": _SAFETY + "purges BM25 tombstones physically",
    "operators.ivf_index:repair_ivf_index": _SAFETY + "sweeps orphan IVF generations",
    "plans.export:read_shards": _TESTREF + "test_train_job, test_export read the exported shards",
    "compression:read_zip_entry": _TESTREF + "test_avro_ingest, test_new_ops_r7 read zipped targets",
    "storage:_FaultInjected": _TESTREF + "test_r13_properties injects replace faults",
    "operators.bpe:learn_bpe": _TESTREF + "test_bpe's reference learner",
    "operators.bpe:bpe_decode": _TESTREF + "test_bpe::test_marker_mode_round_trips decodes the output",
    "plans.curation:curation_stage_counts": _TESTREF + "test_curation, test_repetition check stage attrition",
    "streaming.stateful:streaming_dedup_documents": _DEFERRED + "streaming sinks, 17 tests",
    "streaming.stateful:streaming_near_dup_sink": _DEFERRED + "streaming sinks, 17 tests",
    "streaming.stateful:streaming_bm25_index_sink": _DEFERRED + "streaming sinks, 17 tests",
    "streaming.stateful:streaming_curation_sink": _DEFERRED + "streaming sinks, 17 tests",
    "streaming.stateful:streaming_ivf_index_sink": _DEFERRED + "streaming sinks, 17 tests",
    "sources.warc:read_warc_stream": _DEFERRED + "its one test runs a streaming sink",
    "operators.imagehash:text_as_images": _DEFERRED + "image dedup, 5 tests",
    "operators.imagehash:image_near_dup_pairs": _DEFERRED + "image dedup, 5 tests",
    "operators.imagehash:dedup_images_keep_first": _DEFERRED + "image dedup, 5 tests",
    "operators.multimodal:resize_media": _DEFERRED + "4 tests",
    "operators.multimodal:sample_frames": _DEFERRED + "4 tests",
    "operators.pq:append_to_ivfpq_index": _DEFERRED + "3 tests",
    "operators.sampling:hash_sample": _DEFERRED + "1 test",
    "caching:release_scope": _DEFERRED + "1 test",
    "operators.flatten:to_json_lines": _DEFERRED + "1 test",
}


def test_every_package_def_is_reached_or_allowed():
    """Every def no root reaches is allow-listed or called by an
    allow-listed def, and every allow-list entry is still unreached."""
    assert sorted(unreachable(REPO, PACKAGE, keep=ALLOWED)) == []
    assert sorted(set(ALLOWED) - unreachable(REPO, PACKAGE)) == []


def test_guard_reports_a_def_no_root_reaches(tmp_path):
    """On a synthetic checkout: a def reached by a call chain, by a root's
    string or from an imported module's top level is live; a def named
    only in ``__all__``, one in a module no root imports, and a newly
    added uncalled def are reported; a kept def is not."""
    pkg = tmp_path / PACKAGE
    (pkg / "sub").mkdir(parents=True)
    (tmp_path / "perfbench").mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "__init__.py").write_text("")
    (pkg / "__main__.py").write_text("from .sub.a import run\n\nrun()\n")
    (pkg / "sub" / "a.py").write_text(
        "from . import c\n\n__all__ = ['exported']\n\n"
        "def helper():\n    return 1\n\n"
        "def run():\n    return helper()\n\n"
        "def wrapped():\n    return 2\n\n"
        "def exported():\n    return 3\n"
    )
    (pkg / "sub" / "b.py").write_text("def orphan():\n    return 4\n")
    (pkg / "sub" / "c.py").write_text("def at_import():\n    return 5\n\nVALUE = at_import()\n")
    (tmp_path / "perfbench" / "layers.py").write_text(
        f"TARGETS = [('{PACKAGE}.sub.a', 'wrapped')]\n"
    )
    assert unreachable(tmp_path, PACKAGE) == {"sub.a:exported", "sub.b:orphan"}
    assert unreachable(tmp_path, PACKAGE, keep={"sub.a:exported"}) == {"sub.b:orphan"}

    with open(pkg / "sub" / "a.py", "a") as fh:
        fh.write("\ndef added():\n    return helper()\n")
    assert unreachable(tmp_path, PACKAGE) == {"sub.a:exported", "sub.a:added", "sub.b:orphan"}


def test_tests_import_their_own_checkout():
    """The package under test is the one in this checkout, wherever the
    checkout lives (``conftest`` puts the checkout first on ``sys.path``)."""
    import restructure_hdfs_topic_spark

    assert pathlib.Path(restructure_hdfs_topic_spark.__file__).resolve().is_relative_to(REPO)
