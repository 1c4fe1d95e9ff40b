"""Environment-flag inventory and the one on/off parse.

Every ``FAST_ER_*`` name the library reads must appear in README's
"Cluster knobs" table, and vice versa: a decided A/B hook cannot come back
undocumented, and the table cannot advertise a knob nothing reads."""

import os
import re

import pytest

from fast_er_spark._env import flag_off

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_NAME = re.compile(r"FAST_ER_[A-Z0-9_]+")


def _library_names() -> set[str]:
    names = set()
    for d, _, files in os.walk(os.path.join(ROOT, "fast_er_spark")):
        for f in files:
            if f.endswith((".py", ".java")):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    names |= set(_NAME.findall(fh.read()))
    return names


def _readme_knob_names() -> set[str]:
    with open(os.path.join(ROOT, "README.md"), encoding="utf-8") as fh:
        text = fh.read()
    section = text.split("## Cluster knobs", 1)[1].split("\n## ", 1)[0]
    rows = [ln for ln in section.splitlines() if ln.startswith("|")]
    return set(_NAME.findall("\n".join(rows)))


def test_library_flags_match_readme_knob_table():
    lib = _library_names()
    assert lib, "no FAST_ER_* names found under fast_er_spark/"
    assert lib == _readme_knob_names()


@pytest.mark.parametrize("value", ["0", "false", "False", "OFF", "no", " off "])
def test_flag_off_values(value):
    assert flag_off(value)


@pytest.mark.parametrize("value", [None, "", "1", "true", "on", "auto", "force"])
def test_flag_on_values(value):
    assert not flag_off(value)


@pytest.mark.parametrize("value", ["false", "OFF"])
def test_min_parallelism_guard_disabled_by_off_spellings(spark, monkeypatch, value):
    from fast_er_spark.partitioning import ensure_min_parallelism

    df = spark.range(64).coalesce(1)
    monkeypatch.setenv("FAST_ER_MIN_PARALLELISM", value)
    assert ensure_min_parallelism(df, min_parts=4) is df
    monkeypatch.delenv("FAST_ER_MIN_PARALLELISM")
    assert ensure_min_parallelism(df, min_parts=4).rdd.getNumPartitions() == 4
