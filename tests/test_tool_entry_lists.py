"""The entry lists in ``tools/`` name only registered entries, so a
retired or renamed entry cannot linger there.  Without this check a
stale name shows only as a ``KeyError`` deep inside a long tool run.
No Spark session is started."""

import importlib.util
import pathlib

import pytest

from hpctoolkit_dataframe_spark.queries import REGISTRY

TOOLS = pathlib.Path(__file__).resolve().parents[1] / "tools"


def _tool(name):
    spec = importlib.util.spec_from_file_location(name, TOOLS / f"{name}.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.mark.parametrize("tool, attr", [
    ("plan_census", "ARROW_OK"),
    ("plan_census", "SCALAR_BNLJ_OK"),
    ("dump_plans", "SELECTION"),
    ("scale_bench", "FLAGSHIPS"),
])
def test_tool_entry_list_names_only_registered_entries(tool, attr):
    stale = sorted(set(getattr(_tool(tool), attr)) - REGISTRY.keys())
    assert not stale, f"{tool}.{attr} names unregistered entries: {stale}"
