"""Generic MapReduce surface tests (SURVEY.md §2.10 contract)."""

from __future__ import annotations

import glob
import os
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from map_reduce_implementation_spark.core.mapreduce import (
    MapReduceSpec,
    identity_reduce,
    letter_counter_map,
    letter_counter_reduce,
    run_mapreduce,
    word_finder_map,
)
from map_reduce_implementation_spark.jobs.word_finder import word_finder_python

from .conftest import REF_CORPUS_DIR

ALICE = f"{REF_CORPUS_DIR}/input-alice30.txt"


def _parse_counts(lines):
    return {ln.split()[0]: int(ln.split()[1]) for ln in lines}


def test_mapreduce_letter_counter_matches_dataframe_job(spark):
    from map_reduce_implementation_spark.jobs import letter_counter

    spec = MapReduceSpec(ALICE, 4, letter_counter_map, letter_counter_reduce)
    result = run_mapreduce(spark, spec)
    assert result.map_partitions >= 4
    got = _parse_counts(result.lines)
    want = {r.letter: r.cnt for r in letter_counter(spark, ALICE).collect()}
    assert got == want


def test_mapreduce_word_finder(spark):
    spec = MapReduceSpec(ALICE, 4, word_finder_map, identity_reduce, usr_data="Alice")
    result = run_mapreduce(spark, spec)
    assert len(result.lines) == 392  # FIXTURES.md golden


@settings(max_examples=20, deadline=None)
@given(
    text=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=60,
        ),
        min_size=1,
        max_size=30,
    ),
    nsplits=st.integers(min_value=1, max_value=6),
)
def test_letter_counter_map_reduce_property(text, nsplits):
    """Counter totals are split-invariant and equal a pure-Python count
    (FIXTURES.md §4 property) — pure-Python harness, no Spark needed."""
    # simulate splits
    chunks = [text[i::nsplits] for i in range(nsplits)]
    partials = [list(letter_counter_map(iter(c), None)) for c in chunks]
    merged = list(letter_counter_reduce(iter([ln for p in partials for ln in p]), None))
    got = _parse_counts(merged)
    want = {chr(65 + i): 0 for i in range(26)}
    for line in text:
        for ch in line:
            if ch.isascii() and ch.isalpha():
                want[ch.upper()] += 1
    assert got == want


@settings(max_examples=30, deadline=None)
@given(
    lines=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=50
        ),
        max_size=20,
    ),
    word=st.text(
        alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789",
        min_size=1,
        max_size=6,
    ),
)
def test_word_finder_map_matches_regex_oracle(lines, word):
    import re

    got = list(word_finder_map(iter(lines), word))
    pat = re.compile(f"(^|[^0-9A-Za-z]){re.escape(word)}([^0-9A-Za-z]|$)")
    want = [ln for ln in lines if pat.search(ln)]
    assert got == want


def test_overlap_variant_results_identical(spark):
    """mapreduce2.c parity (mapreduce2.c:135-196): the overlap topology
    changes scheduling, never output — a spec with overlap=True must be
    result-identical to the blocking variant, lines and all."""
    base = MapReduceSpec(ALICE, 4, letter_counter_map, letter_counter_reduce)
    over = MapReduceSpec(
        ALICE, 4, letter_counter_map, letter_counter_reduce, overlap=True
    )
    a = run_mapreduce(spark, base)
    b = run_mapreduce(spark, over)
    assert a.lines == b.lines and len(a.lines) == 26
    assert b.map_partitions == a.map_partitions


# ---------------------------------------------------------------------------
# Reference-independent checks on a generated corpus
# ---------------------------------------------------------------------------

_VOCAB = ["the", "The", "THE", "theme", "other", "the_", "9the", "x-the",
          "Alice", "rabbit", "caf\u00e9", "stra\u00dfe", "42", "", "--"]


def _write_corpus(tmp_path):
    """A seeded 2,000-line corpus with non-ASCII letters and ``the`` next
    to letters, digits, ``_`` and ``-``; returns its path and its lines."""
    rng = random.Random(5)
    lines = [" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(0, 10)))
             for _ in range(2000)]
    path = tmp_path / "corpus.txt"
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return str(path), lines


@pytest.mark.parametrize("split_num", [1, 3, 8])
def test_counter_lines_equal_python_ascii_count(spark, tmp_path, split_num):
    path, lines = _write_corpus(tmp_path)
    want = [0] * 26
    for line in lines:
        for ch in line:
            if "a" <= ch <= "z" or "A" <= ch <= "Z":
                want[ord(ch.upper()) - 65] += 1
    spec = MapReduceSpec(path, split_num, letter_counter_map, letter_counter_reduce)
    result = run_mapreduce(spark, spec)
    assert result.map_partitions == split_num
    assert result.lines == [f"{chr(65 + i)} {c}" for i, c in enumerate(want)]


def test_word_finder_lines_in_file_order(spark, tmp_path):
    path, lines = _write_corpus(tmp_path)
    spec = MapReduceSpec(path, 8, word_finder_map, identity_reduce, usr_data="the")
    result = run_mapreduce(spark, spec)
    want = word_finder_python(lines, "the")
    assert len(want) > 100
    assert result.lines == want


def test_map_stage_runs_split_num_tasks_into_one_reducer(spark, tmp_path):
    path, _ = _write_corpus(tmp_path)
    sc = spark.sparkContext
    group = "test-run-mapreduce-stages"
    sc.setJobGroup(group, "run_mapreduce stage shape")
    try:
        run_mapreduce(spark, MapReduceSpec(path, 8, letter_counter_map, letter_counter_reduce))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1
    stage_ids = sorted(tracker.getJobInfo(jobs[0]).stageIds)
    # the map stage precedes the reduce stage it feeds
    assert [tracker.getStageInfo(s).numTasks for s in stage_ids] == [8, 1]


def test_output_path_writes_one_part_file(spark, tmp_path):
    path, _ = _write_corpus(tmp_path)
    spec = MapReduceSpec(path, 8, word_finder_map, identity_reduce, usr_data="the")
    out = str(tmp_path / "out")
    written = run_mapreduce(spark, spec, output_path=out)
    assert written.filepath == out and written.lines == []
    parts = glob.glob(os.path.join(out, "part-*"))
    assert len(parts) == 1
    with open(parts[0], encoding="utf-8") as f:
        got = f.read().split("\n")[:-1]
    assert got == run_mapreduce(spark, spec).lines
