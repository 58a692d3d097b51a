"""Benchmark inputs.

Two kinds of input:

* query tables: copies of the star-schema test tables the query layer and
  its DuckDB oracles are written against (``tables/sf0.1``, the scale
  ``bench.py`` reads, and ``tables/sf0.01``, the scale the oracle check
  reads), only the tables the benchmark's queries read, byte for byte as
  recorded in ``tables/SHA256SUMS``. They are the same for every seed;
* transcript corpora from ``synth.synth_transcripts_spark``, whose id
  range (``id_offset``) is derived from the seed, cached under the work
  directory.

Every corpus is keyed by kind, size and seed, and a directory only
counts as present once its ``_DONE`` marker exists, so an interrupted or
differently sized generation is never reused. Generation time is never
part of a metric.
"""

from __future__ import annotations

import hashlib
import os
import shutil

TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark(path: str) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        f.write("ok\n")


def query_tables(sf: str) -> str:
    """Directory of the test tables at scale ``sf`` (``"0.1"``, ``"0.01"``),
    after checking every file in it against ``tables/SHA256SUMS``."""
    path = os.path.join(TABLES, f"sf{sf}")
    with open(os.path.join(TABLES, "SHA256SUMS")) as f:
        sums = {rel: digest for digest, rel in map(str.split, f)}
    for name in sorted(os.listdir(path)):
        rel = f"sf{sf}/{name}"
        with open(os.path.join(path, name), "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        if sums.get(rel) != digest:
            raise RuntimeError(f"{rel} does not match tables/SHA256SUMS")
    return path


class Corpus:
    """A seeded ``synth_transcripts_spark`` corpus cached as parquet.

    Generation needs a Spark session, so the benchmark makes missing
    corpora in a separate driver process before it measures anything."""

    def __init__(self, kind: str, seed: int, n_turns: int, n_files: int,
                 diversify: bool, id_offset: int, n_convs: int | None = None):
        self.kind, self.seed, self.n_turns = kind, seed, n_turns
        self.n_files, self.diversify = n_files, diversify
        self.id_offset, self.n_convs = id_offset, n_convs

    def path(self, work: str) -> str:
        return os.path.join(work, "data",
                            f"{self.kind}_n{self.n_turns}_seed{self.seed}")

    def cached(self, work: str) -> bool:
        return _done(self.path(work))

    def make(self, spark, work: str) -> None:
        from epstein_browser_spark.synth import synth_transcripts_spark

        path = self.path(work)
        shutil.rmtree(path, ignore_errors=True)
        (synth_transcripts_spark(spark, self.n_turns, n_convs=self.n_convs,
                                 diversify=self.diversify,
                                 id_offset=self.id_offset)
         .repartition(self.n_files).write.parquet(path))
        _mark(path)


def id_offset(seed: int, n_turns: int) -> int:
    """First generator id of the seed's corpus: each seed gets a disjoint
    id range, hence other texts, conversations and turn ids at the same
    size and mix (ids stay below 2**31: ``turn_idx`` is the id as int)."""
    block = 4 * n_turns
    return (seed % max(1, (2**31 - 1) // block - 1)) * block
