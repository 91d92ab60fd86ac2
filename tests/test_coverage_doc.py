"""The evidence map (COVERAGE.md) must not rot: every backticked
query-style name it cites has to exist in the live REGISTRY. Round-4
review found eight stale names left behind by a registry consolidation —
this gate makes that class of drift a test failure."""

from __future__ import annotations

import re
from pathlib import Path

from webcrawl_lowres_lang_spark.plans import (  # noqa: F401  (populate REGISTRY)
    crawl_ops,
    pipeline_ops,
    relational,
)
from webcrawl_lowres_lang_spark.plans.registry import REGISTRY

# A token is a "query citation" when it follows the registry's naming
# families; other backticked identifiers (functions, columns, test names)
# are out of scope for this gate.
_QUERY_LIKE = re.compile(
    r"^(?:[sajwfce]\d+(?:_[a-z0-9]\w*)+|(?:dedup|ann|text|events|multimodal|u\d+|q\d+)_\w+"
    r"|crawl_round_smoke|search_connector_scalars)$"
)


def test_coverage_md_cites_only_live_registry_names():
    doc = (Path(__file__).resolve().parents[1] / "COVERAGE.md").read_text()
    tokens = set(re.findall(r"`([a-z][a-z0-9_]+)`", doc))
    cited = {t for t in tokens if _QUERY_LIKE.match(t)}
    assert cited, "COVERAGE.md lost its query citations entirely?"
    stale = sorted(cited - set(REGISTRY))
    assert not stale, f"COVERAGE.md cites names missing from REGISTRY: {stale}"
    # a family wildcard (`text_*`, also inside `a10/a13/text_*`) must
    # still cover at least one live name
    families = {
        part[:-2]
        for span in re.findall(r"`([^`\n]+)`", doc)
        for part in span.split("/")
        if re.fullmatch(r"[a-z][a-z0-9]*_\*", part)
    }
    empty = sorted(f for f in families if not any(n.startswith(f + "_") for n in REGISTRY))
    assert not empty, f"COVERAGE.md cites families with no REGISTRY name: {empty}"


# The driver contract is exactly the SURVEY-§2 core: a plan module that
# registers an extra query, or loses a core one, fails this pin. The
# whole of queries() is the driver's correctness window.
_SURVEY_CORE = [
    # plans/relational.py (17)
    "s1_scan_filter_project", "f2_substring_exclusion", "j1_join_group_agg",
    "j4_left_anti_group", "j5_seen_set_anti_join", "j6_exemplar_per_group",
    "a1_group_count", "a3_a4_duplicate_detection", "a5_distinct_count_histogram",
    "a6_conditional_agg", "a7_filtered_count_topk", "a9_range_histogram",
    "a16_rollup_totals", "w2_ranked_enumerate", "w6_bigram_lead",
    "e1_e2_union_canonicalize", "q1_pricing_summary",
    # plans/crawl_ops.py (16)
    "c1_c3_url_canonicalize_hash", "f2_f3_guards", "a8_domain_rollup",
    "a10_token_frequency", "a11_lexicon_merge", "j7_lexicon_anti_join",
    "a13_paragraph_scoring", "a14_precision_recall", "w9_priority_frontier_topk",
    "s8_latest_state_wins", "t5_salted_skew_join", "s5_point_lookup",
    "s10_bulk_reset", "search_connector_scalars", "u3_text_extract_html",
    "crawl_round_smoke",
]


def test_survey_core_inside_driver_correctness_window():
    # the registry is per process and this module imports pipeline_ops, so
    # ask a fresh `import __spark_entry__` — exactly what the driver sees
    import json
    import subprocess
    import sys

    repo = str(Path(__file__).resolve().parents[1])
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, json; sys.path.insert(0, %r); "
         "import __spark_entry__ as e; print(json.dumps(list(e.queries())))" % repo],
        capture_output=True, text=True, check=True,
    )
    names = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(names) == len(set(names))
    assert set(names) == set(_SURVEY_CORE)
