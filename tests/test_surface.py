"""The engine's public surface is what the program uses.

Every public top-level function or class of the engine package must be
referenced (as a name, an attribute or an import) by some ``.py`` file
outside ``tests/``: ``__spark_entry__.py``, ``bench.py``, ``scripts/``,
``perfbench/`` or the package itself. A public name that only tests call
is dead code with a test attached; delete both, or give it a line in
``TEST_ONLY`` saying why it stays.

Private top-level helpers (``_name``) follow the same rule with no
exceptions: a helper that lost its last caller outside ``tests/`` goes.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "dss_plugin_nlp_analysis_spark"

# Public names that only tests reference, each kept on purpose.
TEST_ONLY = {
    "run_stream_to_parquet": "streaming half of the one triples path; "
    "test_stream_triples_equal_batch_triples pins it",
    "shingles": "reference implementation that "
    "test_exploded_shingles_matches_hof_multiset compares against",
    "keyword_match_tokens": "reference oracle for compile_ontology "
    "(tests/test_ontology.py)",
    "pages_df": "seeded web-page fixture generator",
    "encode_bmp": "fixture encoder: builds BMP decoder inputs",
    "encode_pgm": "fixture encoder: builds PGM decoder inputs",
    "encode_ppm": "fixture encoder: builds PPM decoder inputs",
}


def _non_test_sources():
    for path in sorted(ROOT.rglob("*.py")):
        parts = path.relative_to(ROOT).parts
        if parts[0] == "tests" or any(p.startswith(".") for p in parts):
            continue
        yield path


def _referenced_names() -> set[str]:
    names = set()
    for path in _non_test_sources():
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rpartition(".")[2])
    return names


def _definitions() -> list[tuple[str, str]]:
    """(name, ``module.py:line``) for every top-level def/class."""
    defs = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.append(
                    (node.name, f"{path.relative_to(PACKAGE)}:{node.lineno}")
                )
    return defs


def test_public_engine_names_have_non_test_callers():
    refs = _referenced_names()
    defs = {n: w for n, w in _definitions() if not n.startswith("_")}
    unreferenced = {n: where for n, where in defs.items() if n not in refs}
    test_only = sorted(f"{w} {n}" for n, w in unreferenced.items() if n not in TEST_ONLY)
    assert not test_only, f"public names only tests reference: {test_only}"
    stale = sorted(n for n in TEST_ONLY if n not in unreferenced)
    assert not stale, f"TEST_ONLY entries that are gone or now used: {stale}"


def test_private_engine_helpers_have_non_test_callers():
    refs = _referenced_names()
    orphans = sorted(
        f"{w} {n}" for n, w in _definitions() if n.startswith("_") and n not in refs
    )
    assert not orphans, f"private helpers with no caller outside tests: {orphans}"
