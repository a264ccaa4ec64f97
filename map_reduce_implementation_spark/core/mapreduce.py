"""Generic MapReduce surface — the reference's embeddable API, Spark-native.

The reference's public contract (mapreduce.h:14-32) is:

    MAPREDUCE_SPEC { input_data_filepath, split_num, map_func, reduce_func,
                     usr_data }  →  mapreduce(spec, result)

where ``map_func(DATA_SPLIT*, fd_out)`` consumes one line-aligned split and
writes output lines, and ``reduce_func(fds[], n, fd_out)`` consumes ALL
intermediate outputs at once (gang reduce — grouping is the UDF's job,
mapreduce.c:165). The Spark analogue:

- one split            → one RDD partition (line-aligned, built-in), one
                         map task; the ``split_num`` map tasks run in
                         parallel
- map_func             → ``mapPartitionsWithIndex``, each output line keyed
                         by (split index, position in the split)
- intermediate files   → a Spark shuffle into one partition, sorted by
                         that key (``repartitionAndSortWithinPartitions``)
- single gang reducer  → one reduce task that strips the keys and hands
                         ``reduce_func`` the bare lines
- usr_data             → closure capture

The sort makes ``reduce_func`` see the map outputs in split order, the
order in which mapreduce.c:165 concatenates its intermediate files. The
order comes from the keys, not from the order in which the reduce task
happens to fetch shuffle blocks.

This module exists for API parity and for genuinely imperative
per-partition logic. Declarative pipelines (jobs/, operators/) are the
recommended path — Catalyst cannot see inside these Python functions, so
nothing here is optimized, and at 100 TB the single reduce task is a
deliberate bottleneck exactly like the reference's lone reduce worker
(mapreduce.c:159-171).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

MapFunc = Callable[[Iterator[str], object], Iterable[str]]
ReduceFunc = Callable[[Iterator[str], object], Iterable[str]]


@dataclass
class MapReduceSpec:
    """Python analogue of MAPREDUCE_SPEC (mapreduce.h:14-21)."""

    input_data_filepath: str
    split_num: int
    map_func: MapFunc
    reduce_func: ReduceFunc
    usr_data: object = None
    # API parity with the reference's unlinked mapreduce2.c variant
    # (mapreduce2.c:135-196): there, map-worker 0 stays alive after its
    # map and becomes the reducer, blocking on a pipe until the parent
    # signals — an overlap/pipelining experiment whose OUTPUT contract
    # is identical to mapreduce.c. Under Spark the flag changes nothing
    # at runtime because the overlap already happens: reduce tasks
    # fetch finished map outputs while later map tasks still run, and
    # the scheduler launches stages as soon as their parents allow —
    # exactly the concurrency mapreduce2.c hand-builds with fork+pipe.
    # Accepted (and tested result-identical) so a mapreduce2 caller can
    # switch without an API delta. mapreduce2.c's fixed-up child-write
    # wart (result fields written in the child, lost to the parent,
    # patched at :197) is deliberately not reproduced.
    overlap: bool = False


@dataclass
class MapReduceResult:
    """Python analogue of MAPREDUCE_RESULT (mapreduce.h:23-29).

    PIDs are meaningless under Spark; we expose partition counts instead.
    ``processing_time_us`` mirrors the reference's gettimeofday wall clock
    (mapreduce.c:52, 189-191).
    """

    filepath: str | None
    processing_time_us: int
    map_partitions: int
    lines: list[str] = field(default_factory=list)


def run_mapreduce(
    spark: SparkSession,
    spec: MapReduceSpec,
    output_path: str | None = None,
) -> MapReduceResult:
    """Execute the two-phase map/reduce lifecycle (mapreduce.c:99-191).

    The map phase runs as one task per split, in parallel (the reference
    ``waitpid``s inside its fork loop, mapreduce.c:136 — its main
    performance defect, deliberately not reproduced). Every map output
    line is keyed by (split index, position in the split) and shuffled
    into a single partition sorted by that key, so exactly one reduce
    task calls ``reduce_func`` once, on the bare lines in split order.
    """
    t0 = time.monotonic_ns()
    sc = spark.sparkContext
    usr_data = spec.usr_data
    map_func, reduce_func = spec.map_func, spec.reduce_func

    def keyed_map(split: int, it: Iterator[str]) -> Iterator[tuple[tuple[int, int], str]]:
        for pos, line in enumerate(map_func(it, usr_data)):
            yield (split, pos), line

    def bare_reduce(it: Iterator[tuple[tuple[int, int], str]]) -> Iterable[str]:
        return reduce_func((line for _, line in it), usr_data)

    rdd = sc.textFile(spec.input_data_filepath, minPartitions=spec.split_num)
    n_map = rdd.getNumPartitions()
    reduced = (
        rdd.mapPartitionsWithIndex(keyed_map)
        .repartitionAndSortWithinPartitions(1, lambda _: 0)
        .mapPartitions(bare_reduce)
    )

    if output_path:
        # Single text file parity with mr.rst (mapreduce.c:153-157): one
        # reduce partition → one part file. Not for 100 TB paths.
        reduced.saveAsTextFile(output_path)
        lines: list[str] = []
    else:
        lines = reduced.collect()
    t1 = time.monotonic_ns()
    return MapReduceResult(
        filepath=output_path,
        processing_time_us=(t1 - t0) // 1000,
        map_partitions=n_map,
        lines=lines,
    )


# ---------------------------------------------------------------------------
# The reference's two built-in jobs re-expressed on the generic surface
# (proving the contract; usr_functions.c:19-109 and :119-238).
# ---------------------------------------------------------------------------


def letter_counter_map(lines: Iterator[str], usr_data: object) -> Iterator[str]:
    """Partial 26-bucket count per split (usr_functions.c:37-54), emitting
    all 26 letters including zeros, A..Z order."""
    counts = [0] * 26
    for line in lines:
        for ch in line:
            if "a" <= ch <= "z":
                counts[ord(ch) - 97] += 1
            elif "A" <= ch <= "Z":
                counts[ord(ch) - 65] += 1
    for i, c in enumerate(counts):
        yield f"{chr(65 + i)} {c}"


def letter_counter_reduce(lines: Iterator[str], usr_data: object) -> Iterator[str]:
    """Sum-merge of partial counts (usr_functions.c:73-108): parse
    ``"%c %d"``, guard A..Z, emit 26 totals in order."""
    totals = [0] * 26
    for line in lines:
        parts = line.split(" ", 1)
        if len(parts) == 2 and len(parts[0]) == 1 and "A" <= parts[0] <= "Z":
            totals[ord(parts[0]) - 65] += int(parts[1])
    for i, c in enumerate(totals):
        yield f"{chr(65 + i)} {c}"


def word_finder_map(lines: Iterator[str], usr_data: object) -> Iterator[str]:
    """Whole-word line filter (usr_functions.c:119-191): emit each line
    containing usr_data as a word under the [^0-9A-Za-z] boundary rule."""
    word = str(usr_data)
    wl = len(word)
    for line in lines:
        start, found = 0, False
        while not found:
            idx = line.find(word, start)
            if idx < 0:
                break
            left_ok = idx == 0 or not line[idx - 1].isalnum() or not line[idx - 1].isascii()
            right = idx + wl
            right_ok = right >= len(line) or not (
                line[right].isalnum() and line[right].isascii()
            )
            if left_ok and right_ok:
                found = True
            start = idx + 1
        if found:
            yield line


def identity_reduce(lines: Iterator[str], usr_data: object) -> Iterator[str]:
    """Concatenating reduce (usr_functions.c:205-238)."""
    yield from lines
