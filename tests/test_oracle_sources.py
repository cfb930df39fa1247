"""Each shared definition has one home: an oracle relation or SQL
kernel, held next to its Spark twin, a Spark expression, or a NumPy
kernel. Every other user composes or imports it. A second copy can
drift from the first without any fixture showing it."""

from __future__ import annotations

import ast
import re
import subprocess
import sys
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "hive_2_spark"

# a phrase of each shared definition -> the module that holds it
_DEFINITIONS = {
    # ``_DK_NORM`` beside ``_NORM``
    "regexp_replace(lower(": "llm/dedup.py",
    # ``_DK_CORPUS`` beside ``corpus_with_dups``
    "text || ' suffix', lang": "llm/dedup.py",
    # ``_dk_pairs``: the pair import
    "SELECT DISTINCT a_id, b_id FROM (": "llm/dedup.py",
    # ``_dk_neardup_edges_sym`` beside ``neardup_edges_sym``
    "SELECT b_id AS src, a_id AS dst FROM p": "llm/dedup.py",
    # ``_DK_COMPONENTS`` beside ``_cc_converge``
    "JOIN reach r ON": "llm/advanced.py",
    # ``_DK_SESSIONS`` beside ``sessionized``
    "SUM(new_s) OVER": "core/events.py",
    # ``_DK_TRADE_EDGES`` beside ``_edges``
    "CAST(-l_suppkey AS BIGINT)": "core/graph.py",
    # ``_DK_WEIGHTED_EDGES`` beside ``_weighted_edges``
    "CAST(1.0 AS DOUBLE) / deg.deg": "core/graph.py",
    # ``_dk_plurality`` beside ``_plurality``
    "ORDER BY c DESC, lbl ASC": "core/graph.py",
    # ``_dk_walks_start``
    "PARTITION BY src ORDER BY dst ASC": "core/graph.py",
    # ``_dk_cos`` beside ``_cosines``
    "SQRT(list_dot_product(": "llm/similarity.py",
    # ``_batch_udf``: the one Arrow batch -> matrix conversion
    "np.vstack(vec.to_numpy())": "llm/similarity.py",
    # ``_NORM``'s Spark-side regex
    'r"[^a-z0-9\\s]"': "llm/dedup.py",
    # the order-statistic primitives every quantile and running sum use
    "def nearest_rank(": "core/windows.py",
    "def _dk_nearest_rank(": "core/windows.py",
    "def bucketed_running_sum(": "core/windows.py",
}


def _sources() -> dict[str, str]:
    return {
        str(p.relative_to(PKG)): p.read_text()
        for p in sorted(PKG.rglob("*.py"))
    }


@pytest.mark.parametrize("phrase", sorted(_DEFINITIONS))
def test_shared_oracle_relation_defined_once(phrase):
    hits = {
        name: text.count(phrase)
        for name, text in _sources().items()
        if phrase in text
    }
    assert hits == {_DEFINITIONS[phrase]: 1}


def test_no_second_neardup_pair_sql():
    """The near-dup pair copy that lacked the mega-block leg is gone:
    its users compose the dedup_ngram_jaccard oracle."""
    assert not [n for n, t in _sources().items() if "_DK_PAIRS" in t]


# a phrase -> the only modules allowed to hold it (empty: none may)
_CONFINED = {
    # the one stream reader, and the version-log tail's custom format
    "spark.readStream": {"streaming/_source.py", "core/pysource.py"},
    # the events load rule
    "nanosAsLong": {"catalog.py"},
    # the strpos nibble fold ``_dk_hex_int``'s native cast replaced
    "strpos('0123456789abcdef'": set(),
    # nearest-rank picks: ``nearest_rank`` / ``_dk_nearest_rank`` alone
    "* 100 >= ": {"core/windows.py"},
    "+ 99) DIV 100": {"core/windows.py"},
    "+ 99) // 100": {"core/windows.py"},
    "* 2 >= total": {"core/windows.py"},
    "* 4 >= total": {"core/windows.py"},
}


@pytest.mark.parametrize("phrase", sorted(_CONFINED))
def test_phrase_confined_to_its_home(phrase):
    holders = {name for name, text in _sources().items() if phrase in text}
    assert holders <= _CONFINED[phrase]


# functions that window over all preceding rows for something other
# than a prefix offset over bucket totals -> what they carry
_PRECEDING_NOT_OFFSETS = {
    "token_pack_salted": "offsets of pack counts, not of the summed value",
    "ts_interpolate": "the last observed value",
    "_chain_census": "running maxima of event times",
    "stream_lateness_report": "the running high-water mark",
}
_PRECEDING = re.compile(r"rowsBetween\(\s*\w+\.unboundedPreceding,\s*-1\s*\)")


def test_prefix_offsets_only_in_bucketed_running_sum():
    """Every exclusive-prefix window outside ``core/windows.py`` (where
    ``bucketed_running_sum`` holds the one offset plan) is listed above
    with what it carries."""
    found = set()
    for name, text in _sources().items():
        if name == "core/windows.py":
            continue
        funcs = [
            (f.lineno, f.end_lineno, f.name)
            for f in ast.walk(ast.parse(text))
            if isinstance(f, ast.FunctionDef)
        ]
        for m in _PRECEDING.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            found.add(max(f for f in funcs if f[0] <= line <= f[1])[2])
    assert found == set(_PRECEDING_NOT_OFFSETS)


def test_registry_import_raises_no_user_warning():
    """Building the registry warns nothing, so a warning at import
    always means something new (a UDF's type hints, say)."""
    code = "import hive_2_spark.registry as r; r.all_queries()"
    subprocess.run(
        [sys.executable, "-W", "error::UserWarning", "-c", code],
        cwd=PKG.parent,
        check=True,
    )
