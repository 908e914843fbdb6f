"""``tools/check_correctness.py`` command line: ``--write`` (merge the
run into the committed LOCAL_BATTERY.json) is opt-in and never read as
the data directory or a query name. No Spark session is started."""

from __future__ import annotations

import importlib.util
import pathlib

TOOL = pathlib.Path(__file__).resolve().parent.parent / "tools" / "check_correctness.py"


def _split():
    spec = importlib.util.spec_from_file_location("check_correctness", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.split_write_flag


def test_write_flag_is_opt_in_and_never_a_positional_argument():
    split = _split()
    assert split(["tool", "data/sf0.01"]) == (["tool", "data/sf0.01"], False)
    assert split(["tool", "data/sf0.01", "wordcount", "dq_audit"]) == (
        ["tool", "data/sf0.01", "wordcount", "dq_audit"],
        False,
    )
    assert split(["tool", "--write", "data/sf0.01", "wordcount"]) == (
        ["tool", "data/sf0.01", "wordcount"],
        True,
    )
    assert split(["tool", "data/sf0.01", "wordcount", "--write"]) == (
        ["tool", "data/sf0.01", "wordcount"],
        True,
    )
    assert split(["tool", "--write"]) == (["tool"], True)
