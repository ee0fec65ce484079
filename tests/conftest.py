import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# --- fast/slow tier (VERDICT r11 item 2) -----------------------------
# The full suite (~950 items, ~30 min serial) outgrew the driver's
# verify budget in round 11 (the tail truncated at ~68% with zero
# failures). The DEFAULT run is now a fast tier that keeps every
# operator family's unit/contract tests plus a representative
# oracle-parity sample; the exhaustive redundant sweeps are opt-in via
# --runslow (or SAMBA_SLOW_TESTS=1) and are covered by the committed
# PARITY_r12.json and PARITY_r12_sf0.001.json (tools/parity_sweep.py
# replays ALL 268 queries against the DuckDB oracle at two SFs — a
# strict superset of the skipped oracle-match params) and by a
# full --runslow run before a release.
#
# Slow tier = (a) whole files that re-check what other artifacts pin:
#   * test_plain_session.py — runs all 268 queries in a plain
#     SparkSession (the driver's own bench+correctness do this);
#   * test_advisor_sweep.py — suite-wide plan-shape sweep;
#   * test_properties.py — randomized python-reference cross-checks;
# (b) per-query oracle-match params outside the pinned sample below.
_SLOW_FILES = {
    "test_plain_session.py",
    "test_advisor_sweep.py",
    "test_properties.py",
}
# one representative per family + every query touched by recent
# optimization rounds (r11/r12): the queries whose plans change most
# often are exactly the ones the fast tier must keep oracle-checked
_ORACLE_FAST_SAMPLE = {
    "q1_scan_count",
    "q23_star_join",
    "q41_pagerank",
    "q43_stream_join",
    "q59_transitive_lineage",
    "q78_stateful_processor",
    "x3_minhash_lsh_dedup",
    "x5_ngram_jaccard",
    "x55_triangle_count",
    "x95_frequent_itemsets",
    "x100_table_profile",
    "x110_sliding_distinct",
    "x111_incremental_lsh",
    "x124_k_core",
    "x132_common_substring_pairs",
    "x137_minhash_probe",
    "x141_ivf_pq_ann",
    "x142_kmeans",
    "x147_pca_power",
    "x155_index_probe",
    "x158_minhash_index_append",
    "x159_streaming_admission",
    "x160_index_delete",
    "x161_index_compact",
    "x164_index_merge",
    "x165_incremental_sessionize",
    "x166_session_store_compact",
    "x167_vector_shard_merge",
    "x168_sessionize_stream",
    "x169_vector_delete_compact",
    "x170_session_store_delete",
}
_ORACLE_PARAM_RE = re.compile(
    r"^test_(?:extension_)?oracle_match\[(?P<q>.+)\]$"
)


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run the slow tier (exhaustive oracle sweeps, "
        "plain-session all-queries run, property cross-checks)",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow") or os.environ.get(
        "SAMBA_SLOW_TESTS"
    ) == "1":
        return
    skip = pytest.mark.skip(
        reason="slow tier: run with --runslow or SAMBA_SLOW_TESTS=1 "
        "(full oracle coverage lives in the per-round PARITY artifacts)"
    )
    for item in items:
        fname = os.path.basename(str(item.fspath))
        if fname in _SLOW_FILES:
            item.add_marker(skip)
            continue
        m = _ORACLE_PARAM_RE.match(item.name)
        if m and m.group("q") not in _ORACLE_FAST_SAMPLE:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from samba_spark.session import get_spark

    spark = get_spark(app_name="samba_tests", master="local[*]")
    yield spark


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct():
    return SF_CORRECT


@pytest.fixture()
def engine(spark, tmp_path):
    from samba_spark.session import ProvSession

    s = ProvSession(spark, name="test_run", prov_dir=str(tmp_path / "prov"))
    yield s
    s.stop()
