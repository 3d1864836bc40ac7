"""The benchmark's workloads: which keys run, on which generated family.

Each workload loads a different layer of the engine, so an optimisation of
one layer shows on one workload and is predicted flat on another (README.md
maps each layer metric to the end-to-end metric it should move):

* ``warehouse_x10`` — star-schema scan, join and aggregation on a 10x family
  (600k lineitem rows). Executor work dominates; the DataFrame build is a
  small share of the pass.
* ``corpus_prep`` — LLM data preparation on the sf0.01 corpus: MinHash dedup
  builds ``materialized()`` intermediates with eager jobs in the build, and
  pandas and Arrow UDFs cross the Python-worker boundary.
* ``table_ingest`` — writes beside reads: manifest-table commits and time
  travel, and a streaming dedup with a state store and checkpoint. Commits
  and the whole streaming run happen while the DataFrame is built, so the
  build is most of the pass.

The mixes are small because every run pays a JVM start and a cold first
pass, and the whole set of runs a comparison needs must fit a fixed budget
on four cores.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    #: base row-count scale of the generated family (datagen.BASE_ROWS)
    base: str
    #: fact-table multiplier applied to the base family
    scale: int
    #: seconds one warm pass takes on the reference host (4 cores); turns
    #: ``--seconds`` into a fixed number of timed passes, so every run
    #: samples the same point of the JVM's warm-up
    nominal_pass_s: float


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "warehouse_x10",
            ("q_agg_hash", "q_pipeline_large_orders"),
            "sf0.01",
            10,
            3.4,
        ),
        Workload(
            "corpus_prep",
            (
                "q_dedup_fuzzy_minhash",
                "q_udf_scalar_pandas",
                "q_text_repetition_stats",
            ),
            "sf0.01",
            1,
            2.5,
        ),
        Workload(
            "table_ingest",
            (
                "q_etl_time_travel",
                "q_stream_state_store_dedup",
            ),
            "sf0.01",
            1,
            3.0,
        ),
    )
}
