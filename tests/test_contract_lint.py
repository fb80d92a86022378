"""Contract-surface lints against the DRIVER's canonicalizer.

Round-6 postmortem: the engine's values were right everywhere
(390/390 exact-value), but two driver-gate reds shipped anyway —
q185's oracle leaked DuckDB HUGEINT (SUM over BIGINT) which the
driver hashes differently from Spark's int64, and q192 returned an
``array<bigint>`` column that crashes the driver's pandas
``sort_values`` canonicalizer. Six more oracles carried the same
latent HUGEINT leak. The old selfcheck was blind to both classes
(it rewrote dtypes before comparing and skipped rows-only shapes).

These tests pin the hardened ``tools/selfcheck.py`` lints so the
class cannot ship again:

- every registered oracle DESCRIBEs clean in DuckDB (no HUGEINT /
  UHUGEINT / nested result types) — the static scan that would have
  caught all seven r6 leaks before any driver window;
- the comparator itself flags dtype-class mismatches and nested
  cells (unit-pinned on synthetic frames, so a regression in the
  lint logic is a test failure, not a silent re-blinding);
- no top-level package definition is reached only from tests unless
  ``TEST_ONLY`` says why it stays.

The registry-wide NESTED-OUTPUT scan (build all 390 Spark plans,
assert no array/map/struct output column) costs ~4 min, so it runs
in the per-round ``tools/selfcheck.py --json SELFCHECK_rN.json``
sweep rather than here; set ``SELFCHECK_FULL=1`` to run it in
pytest too.
"""

from __future__ import annotations

import ast
import os
import re
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.selfcheck import (  # noqa: E402
    compare,
    duck_connection,
    lint_oracle_types,
    nested_cells,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


def test_all_oracles_describe_clean():
    """The r6 failure class, statically: no oracle may produce a
    HUGEINT/UHUGEINT or nested result column (driver hash-unsafe)."""
    import __spark_entry__ as entrymod

    con = duck_connection(SF_DIR)
    bad = lint_oracle_types(con, entrymod.oracle_sql())
    assert bad == {}, f"driver-hash-unsafe oracle result types: {bad}"


def test_lint_catches_hugeint():
    """An uncast SUM(BIGINT) — exactly q185's bug — must be flagged."""
    con = duck_connection(SF_DIR)
    bad = lint_oracle_types(
        con,
        {"synthetic": "SELECT SUM(CAST(1 AS BIGINT)) AS s FROM region"},
    )
    assert "synthetic" in bad and "HUGEINT" in bad["synthetic"][0]


def test_lint_catches_nested():
    con = duck_connection(SF_DIR)
    bad = lint_oracle_types(
        con, {"synthetic": "SELECT [1, 2] AS a FROM region"}
    )
    assert "synthetic" in bad


def test_comparator_flags_dtype_class_mismatch():
    """Equal VALUES, different dtype class (int64 vs float64 — the
    HUGEINT-through-pandas rendering) must fail, not pass."""
    a = pd.DataFrame({"k": [1, 2], "v": pd.array([10, 20], dtype="int64")})
    b = pd.DataFrame({"k": [1, 2], "v": [10.0, 20.0]})
    problems = compare("synthetic", a, b)
    assert any("dtype-class" in p for p in problems)


def test_comparator_passes_equal_frames():
    a = pd.DataFrame({"k": [2, 1], "v": [20, 10]})
    b = pd.DataFrame({"v": [10, 20], "k": [1, 2]})
    assert compare("synthetic", a, b) == []


def test_nested_cells_detected():
    """q192's bug shape: an ndarray cell breaks the driver's
    sort_values canonicalizer before even the rows-only count."""
    df = pd.DataFrame({"u": ["a"], "band": [np.array([1, 2, 3])]})
    assert nested_cells(df) == ["band"]
    assert nested_cells(pd.DataFrame({"u": ["a"], "x": [1]})) == []


@pytest.mark.skipif(
    os.environ.get("SELFCHECK_FULL") != "1",
    reason="registry-wide Spark schema scan (~4 min) runs in the"
    " per-round selfcheck sweep; set SELFCHECK_FULL=1 to run here",
)
def test_no_nested_output_columns_registry_wide():
    import __spark_entry__ as entrymod
    from pyspark.sql import types as T

    from dataflowex_spark.session import get_spark

    spark = get_spark("contract-lint")
    bad = []
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        for f in df.schema.fields:
            if isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType)
            ):
                bad.append((name, f.name, str(f.dataType)))
    assert bad == [], f"nested output columns (driver-canon-unsafe): {bad}"


def test_selfcheck_refuses_unknown_query_names(monkeypatch, capsys):
    """A name that matches no query is listed and exits 2 before
    Spark or DuckDB start, instead of failing as a Spark error."""
    import tools.selfcheck as sc

    def no_engine(*_a, **_k):
        raise AssertionError("started an engine for an unknown name")

    monkeypatch.setattr(sc, "get_spark", no_engine)
    monkeypatch.setattr(sc, "duck_connection", no_engine)
    monkeypatch.setattr(
        sys, "argv",
        ["selfcheck.py", SF_DIR, "q20_join_inner_multi", "q0_no_such"],
    )
    assert sc.main() == 2
    assert capsys.readouterr().err.strip() == (
        "unknown query names: q0_no_such"
    )


#: Top-level package definitions that only tests reach, each with the
#: reason it stays. Anything else that nothing outside ``tests/``
#: reaches is a twin or dead code: delete it, or list it here.
TEST_ONLY = {
    "operators.bpe:bpe_decode": "SURVEY §2 row 'BPE decode'; bpe_encode's round-trip reference",
    "operators.unigram:unigram_decode_pieces": "the unigram tokenizer's round-trip reference",
    "operators.jpeg:encode_jpeg": "builds the baseline JPEG fixtures the decoder tests read",
    "operators.jpeg:encode_jpeg_progressive": "builds the progressive JPEG fixtures the decoder tests read",
    "operators.mp3:mpeg1_scalefactor_bits": "MPEG-1 bit-allocation reference the parser is checked against",
    "operators.mp3:lsf_scalefactor_bits": "MPEG-2 LSF bit-allocation reference the parser is checked against",
    "operators.mp3:check_reservoir": "bit-reservoir chain reference the parser is checked against",
    "operators.mp3:side_info_features": "SURVEY §2 row 'MP3 Layer III bitstream parser'",
    "operators.mp3:decode_mp3_pcm": "the refused PCM decode: states and tests why it refuses",
    "operators.multimodal:read_binary_files": "SURVEY §2-B multimodal columns: binaryFile ingest",
    "operators.multimodal:resize_images": "SURVEY §2-B multimodal columns: image resize",
    "operators.multimodal:extract_audio_features": "SURVEY §2 row 'Audio columns'",
    "operators.multimodal:resample_audio": "SURVEY §2 row 'Audio columns'",
    "operators.multimodal:probe_mp3": "SURVEY §2 row 'MP3 metadata probe'",
    "operators.validation:enforce": "the hard data-quality gate (COVERAGE.md)",
    "sources:read_orc": "SURVEY §2-B scans: ORC, the second at-rest format",
    "sources:read_text": "SURVEY §2-B scans: raw text ingest for corpus pipelines",
    "sources:read_jdbc": "SURVEY §2-B scans: JDBC read",
    "sources:write_batch": "SURVEY §2-A A10 bulk DB sink",
    "sources:write_jdbc": "SURVEY §2-A A10 bulk DB sink",
    "sources:write_zordered": "SURVEY §2 row 'Z-order layout'",
    "sources:clean_staging": "sweeps the orphans a crashed atomic_append leaves",
    "sources:write_time_partitioned": "time-partitioned layout (COVERAGE.md)",
    "sources:read_kafka_stream": "SURVEY §2 row 'Kafka wire projection'",
    "sources:schema_diff": "schema drift detection (COVERAGE.md)",
    "sources:publish_snapshot": "cross-table atomic publish (COVERAGE.md)",
    "sources:read_snapshot": "reads what publish_snapshot committed",
    "sources:read_csv_audited": "audited CSV ingest, SURVEY §2-A A5 routing at the source",
    "sources.delta_reader:drop_delta_constraint": "SURVEY §2 row 'Delta CHECK constraints'",
    "sources.iceberg_reader:stage_orc_file": "conformance-fixture writer: one ORC file",
    "sources.roaring:write_dv_file": "conformance-fixture writer: one deletion-vector file",
    "streaming.ops:state_metadata": "SURVEY §2 row 'State-store introspection'",
}

_IDENT = re.compile(r"[A-Za-z_][\w.:]*")


def _reached_names(node) -> set[str]:
    """The identifiers a subtree can reach: names, attributes, imported
    names, and the parts of identifier-shaped strings (lazy-export
    tables, ``getattr`` by name)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _IDENT.fullmatch(n.value):
                out.update(re.split(r"[.:]", n.value))
    return out


def _is_query(node) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "q"
        for d in node.decorator_list
    )


def _package_reach():
    """(definitions, names reached from outside ``tests/``) for the
    top-level package definitions. Seeds: every file outside the
    package and the tests, every package statement that is not a
    definition, and every registered query; a reached name then
    reaches the bodies of all definitions of that name (fixpoint)."""
    defs: dict[str, list[tuple[str, set[str]]]] = {}
    seeds: set[str] = set()
    for path in sorted(REPO.rglob("*.py")):
        parts = path.relative_to(REPO).parts
        if any(p.startswith(".") or p == "tests" for p in parts):
            continue
        tree = ast.parse(path.read_text())
        if parts[0] != "dataflowex_spark":
            seeds |= _reached_names(tree)
            continue
        module = ".".join(parts[1:]).removesuffix(".py")
        module = module.removesuffix("__init__").rstrip(".")
        for node in tree.body:
            body = _reached_names(node)
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                seeds |= body
            elif _is_query(node):
                seeds |= body
            elif not node.name.startswith("__"):
                defs.setdefault(node.name, []).append((module, body))

    def closure(start: set[str]) -> set[str]:
        seen: set[str] = set()
        todo = list(start)
        while todo:
            name = todo.pop()
            if name not in seen:
                seen.add(name)
                for _module, body in defs.get(name, ()):
                    todo.extend(body - seen)
        return seen

    kept = {key.split(":")[1] for key in TEST_ONLY}
    return defs, closure(seeds), closure(seeds | kept)


def test_no_package_definition_is_reached_only_from_tests():
    """A top-level definition in ``dataflowex_spark`` that no query,
    tool, example, benchmark or package statement reaches is a twin of
    a kept path or dead code. It is deleted, or listed in TEST_ONLY
    with the reason it stays; a TEST_ONLY entry that is reached from
    outside the tests, or no longer exists, is dropped from it."""
    defs, live, live_or_kept = _package_reach()
    keys = {
        f"{module}:{name}"
        for name, sites in defs.items()
        for module, _body in sites
    }
    unreached = sorted(
        f"{module}:{name}"
        for name, sites in defs.items()
        for module, _body in sites
        if name not in live_or_kept
    )
    assert unreached == [], (
        "package definitions nothing outside tests/ reaches (delete "
        f"them, or list them in TEST_ONLY with a reason): {unreached}"
    )
    stale = sorted(
        key for key in TEST_ONLY
        if key not in keys or key.split(":")[1] in live
    )
    assert stale == [], f"TEST_ONLY entries to drop: {stale}"
