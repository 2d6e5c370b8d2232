import os

import pytest

#: modules auto-marked into the slow `replay` tier (see pytest.ini) —
#: each replays thousands of reference golden files; together ~3 h
_REPLAY_MODULES = {
    "test_reference_replay",
    "test_reference_replay_functions",
    "test_reference_replay_joins",
    "test_reference_replay_ops",
}

#: the reference TDengine checkout the replay and corpus tiers read
_REFERENCE = "/root/reference"


def pytest_collection_modifyitems(items):
    for item in items:
        if item.module.__name__.rsplit(".", 1)[-1] in _REPLAY_MODULES:
            item.add_marker(pytest.mark.replay)


def pytest_terminal_summary(terminalreporter):
    """Say what a green run did not check: the deselected replay tier
    and a missing reference checkout."""
    replay = sum(
        1 for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("replay")
    )
    ref = "present" if os.path.isdir(_REFERENCE) else "MISSING"
    terminalreporter.write_line(
        f"not checked: {replay} replay-tier tests deselected; "
        f"reference checkout {_REFERENCE} {ref}"
    )


@pytest.fixture(scope="session")
def spark():
    from tdengine_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4)
    yield s
