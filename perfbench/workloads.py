"""The four named workloads: which scripts each runs, over which inputs,
through which sink, and against which oracle."""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from typing import Callable

import fixtures

HEADLINE = ["agg_q1", "join_3way", "orderby_limit", "distinct",
            "rank_window", "events_session"]
PIGMIX = ["pigmix_distinct_agg", "pigmix_wide_group", "pigmix_map_access",
          "pigmix_fanout_join", "pigmix_anti_cogroup", "pigmix_nested_split",
          "pigmix_total_sort", "pigmix_nested_sort"]
DEDUP = ["dedup_minhash", "containment", "dedup_incremental", "setsim_pairs",
         "ngram_jaccard", "boilerplate"]
PIGSTORAGE_LEG = "agg_q1"   # store_sf1 writes this one as PigStorage text
STORE_INTO = re.compile(r"^\s*STORE\s+\w+\s+INTO\s+'([^']+)'", re.M | re.I)

WHY = {
    "pigmix_sf1": "headline six + eight PigMix registry queries over the "
                  "multi-file scaled copy into the noop sink: executors",
    "golden_compile": "47 golden Pig scripts (PigMix L1-L17, macros, nested "
                      "FOREACH, CUBE, RANK, SPLIT) on 6k rows: parse, check, "
                      "compile and plan",
    "dedup_corpus": "six near-duplicate operators over a seeded corpus with "
                    "injected near-duplicates: the operators layer",
    "store_sf1": "pigmix_sf1's queries written through sources.write plus "
                 "the SPLIT/multi-STORE script: sources and caching",
}


@dataclass
class Script:
    """One unit of work: builds its final DataFrame, then the workload's
    sink consumes it. ``pig`` holds the script text for Pig scripts."""
    name: str
    build: Callable[[], object]
    oracle_sql: str | None   # None: a golden script's replay, see run.check
    pig: str | None = None
    params: dict = field(default_factory=dict)
    store_fmt: str = "parquet"
    store_targets: list[str] = field(default_factory=list)
    last_relation: object = None


@dataclass
class Workload:
    name: str
    data_dir: str          # the session autosizes from it; DuckDB reads it
    scripts: list[Script]
    sink: str              # "noop" | "collect" | "store"
    golden: bool = False   # oracle compares under the golden formatting


def _registry(names, spark, data_dir, entry, store=False) -> list[Script]:
    queries, oracles = entry.queries(), entry.oracle_sql()
    return [Script(n, (lambda q=queries[n]: q(spark, data_dir)), oracles[n],
                   store_fmt="pigstorage" if store and n == PIGSTORAGE_LEG
                   else "parquet")
            for n in names]


def _golden(repo, spark, eng, data_dir, work) -> list[Script]:
    from spork_spark.parser import run_script

    gdir = os.path.join(repo, "tests", "golden")
    scripts = []
    for fn in sorted(os.listdir(gdir)):
        if not fn.endswith(".pig"):
            continue
        stem = fn[:-4]
        with open(os.path.join(gdir, fn)) as fh:
            # STORE/rmf targets under /tmp move into the benchmark's work dir
            src = fh.read().replace("/tmp/", os.path.join(work, "tmp", ""))
        s = Script(stem, None, None, pig=src,
                   params={"sf": data_dir},
                   store_targets=STORE_INTO.findall(src))

        def build(s=s):
            rels = run_script(eng, s.pig, params=s.params)
            s.last_relation = rels["out"]
            return rels["out"].df()
        s.build = build
        scripts.append(s)
    return scripts


def prepare_inputs(name: str, cache: str, repo: str, seed: int):
    """Build (or reuse) the workload's inputs; returns (dir, seconds)."""
    if name == "golden_compile":
        return fixtures.base_world(cache, fixtures.INPUTS["golden"]["unit"],
                                   seed)
    if name == "dedup_corpus":
        d = fixtures.INPUTS["dedup"]
        return fixtures.dedup_corpus(cache, d["docs"], d["dup_share"], seed)
    s = fixtures.INPUTS["sf"]
    return fixtures.scaled_world(cache, repo, s["unit"], s["k"], seed)


def build(name: str, data_dir: str, spark, eng, repo: str,
          work: str) -> Workload:
    import __spark_entry__ as entry

    if name == "pigmix_sf1":
        return Workload(name, data_dir,
                        _registry(HEADLINE + PIGMIX, spark, data_dir, entry),
                        "noop")
    if name == "store_sf1":
        return Workload(name, data_dir,
                        _registry(HEADLINE + PIGMIX + ["pigmix_multistore"],
                                  spark, data_dir, entry, store=True),
                        "store")
    if name == "dedup_corpus":
        return Workload(name, data_dir,
                        _registry(DEDUP, spark, data_dir, entry), "collect")
    if name == "golden_compile":
        return Workload(name, data_dir,
                        _golden(repo, spark, eng, data_dir, work),
                        "collect", golden=True)
    raise ValueError(f"unknown workload {name!r}; one of {sorted(WHY)}")
