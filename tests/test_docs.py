"""README inventory counts must match the live registry — the counts
drifted once (round-1 advice); this pins them to the source of truth."""

from __future__ import annotations

from pathlib import Path

from e_commerce_data_engineering_spark.plans.registry import QUERIES, all_queries

README = Path(__file__).resolve().parent.parent / "README.md"


def test_readme_counts_match_registry():
    all_queries()
    n_q = len(QUERIES)
    n_o = sum(1 for q in QUERIES.values() if q.oracle is not None)
    text = README.read_text()
    assert f"({n_q} queries)" in text, f"README query count != {n_q}"
    assert f"`queries()` ({n_q}) and `oracle_sql()` ({n_o} DuckDB twins)" in text
    assert f"({n_o} of {n_q})" in text


def test_survey_inventory_table_current():
    """SURVEY §2.11.1's generated table must byte-match a fresh regen —
    round 6 ended with README pinned but the SURVEY table 10 rows stale."""
    import sys

    tools = str(README.parent / "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import inventory_table

    assert inventory_table.table_is_current(), (
        "SURVEY.md inventory table is stale — run python tools/inventory_table.py"
    )


def test_survey_explains_count_current():
    """SURVEY's latest 'EXPLAINS.md at N audited plan sections' claim
    must match the actual section count — the prose count drifted in
    round 11 (said 154, file had 156; VERDICT r11 #8)."""
    import re

    explains = (README.parent / "EXPLAINS.md").read_text()
    n_sections = len(re.findall(r"^## ", explains, flags=re.M))
    survey = (README.parent / "SURVEY.md").read_text()
    claims = re.findall(r"EXPLAINS\.md at\s+(\d+)\s+audited plan sections", survey)
    assert claims, "SURVEY must state the current EXPLAINS section count"
    assert int(claims[-1]) == n_sections, (
        f"SURVEY claims {claims[-1]} EXPLAINS sections, file has {n_sections}"
    )


def test_explain_normalizer_renumbers_run_dependent_tokens():
    """EXPLAINS.md must be byte-stable across regenerations: expression
    ids, exchange plan ids and frame-tier scratch paths differ per run,
    so the audit tool renumbers each kind by first appearance."""
    import sys

    tools = str(README.parent / "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from explain_audit import normalize_plan

    def plan(a, b, pid, tmp, md5):
        return (
            f"(1) Scan parquet [k#{a}L, v#{b}]\n"
            f"Location: InMemoryFileIndex [file:{tmp}/spark_graft_frames_x/{md5}]\n"
            f"(2) Exchange hashpartitioning(k#{a}L, 4), [plan_id={pid}]\n"
        )

    one = normalize_plan(plan(6840, 12, 15, "/var/tmp", "0" * 32))
    assert one == normalize_plan(plan(31, 7, 1180, "/scratch/run_9Zq", "f" * 32))
    assert one == (
        "(1) Scan parquet [k#1L, v#2]\n"
        "Location: InMemoryFileIndex [file:<frame tier>/1]\n"
        "(2) Exchange hashpartitioning(k#1L, 4), [plan_id=1]\n"
    )
