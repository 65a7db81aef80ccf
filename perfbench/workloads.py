"""The benchmark's workloads.

Each workload is a list of operations per pass. An operation is one
public call into the engine, timed from outside (``call``), optionally
followed by a noop-sink materialization of the DataFrame it returned,
and then checked outside the timed region (``check``).

- ``etl_lake``: the reference's daily job. A seeded JHU-shaped feed is
  written once per run; each pass runs ``etl.category_pipeline`` into a
  fresh Hive-partitioned JSON lake, ``etl.combined_pipeline`` into a
  fresh flat lake, ``sources.lake.register_lake_view`` over the
  partitioned lake, one Spark SQL aggregate pruned to
  ``type='deaths'``, and two availableNow streams. The lakes are checked
  against the pure-Python record contract of ``jhu_feed``.
- ``curation_session``: a fresh copy of the tables arrives before every
  pass (so every fingerprint-keyed artifact cache misses), then families
  of catalog queries build an artifact and reuse it.

Catalog outputs are checked against ``pins.json`` (row count plus an
order-insensitive value hash). README.md says why these operations and
not more.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Callable

import checks
import jhu_feed
import proc

# The kNN graph is built and served in one call; the Jaccard groups are
# built by the first call of their family and reused by the second.
CURATION_FAMILIES = [
    ["sim_graph_topk_multi"],
    ["dedup_jaccard_groups", "dedup_jaccard_survivors"],
    ["text_rolling_fingerprints"],
]

# The incremental half of the daily ingest: an availableNow daily
# aggregate and a watermark dedup (state store), both through
# ``streaming/``. The stateful-sessions and substring-spans streams cost
# 6-15 s a pass each and do not fit the run budget.
STREAM_OPS = [
    "stream_availablenow_daily",
    "stream_dedup_watermark",
]

LAKE_SQL = (
    "SELECT `country/region` AS country, count(*) AS n, "
    "sum(element_at(time_series, -1).value) AS last_total "
    "FROM covid WHERE type = 'deaths' GROUP BY `country/region`"
)


@dataclass
class Op:
    name: str
    call: Callable[[], object]
    check: Callable[[object], None]
    materialize: bool = True
    family_first: bool | None = None


class Workload:
    def __init__(self, spark, stage_dir: str, tables_dir: str, seed: int):
        self.spark = spark
        self.stage_dir = stage_dir
        self.tables_dir = tables_dir
        self.seed = seed
        # A traced run sets this so that steady passes 1-2 and 3-4, one
        # traced and one untraced each, run the same order, and their
        # difference is the tracing overhead rather than an order effect.
        self.paired_passes = False
        self.pins = checks.load_pins()

    def prepare(self) -> None:
        """Untimed inputs for the whole run."""

    def ops(self, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def end_pass(self, pass_no: int) -> None:
        """Untimed cleanup after a pass."""
        shutil.rmtree(self._pass_dir(pass_no), ignore_errors=True)

    def _order(self, pass_no: int, items: list) -> list:
        """The listed order for the first pass, so that the cold pass
        (where whichever operation runs first pays the JVM warm-up) is
        the same sequence on every seed; a seeded shuffle after that."""
        items = list(items)
        if pass_no > 0:
            key = (pass_no + 1) // 2 if self.paired_passes else pass_no
            random.Random(f"{self.seed}-{key}").shuffle(items)
        return items

    def _pass_dir(self, pass_no: int) -> str:
        return os.path.join(self.stage_dir, f"pass-{pass_no}")

    def _pinned(self, name: str, tables_dir: str, family_first: bool | None = None) -> Op:
        from jhu_data_parser_spark import plans

        pin = self.pins["ops"][name]
        return Op(
            name,
            lambda: plans.QUERIES[name](self.spark, tables_dir),
            lambda df: checks.check_pin(df, pin),
            family_first=family_first,
        )


class EtlLake(Workload):
    n_locations = 500
    n_dates = 20

    def prepare(self) -> None:
        self.feed = jhu_feed.write_feed(
            os.path.join(self.stage_dir, "feed"), self.seed, self.n_locations, self.n_dates
        )
        self.input_bytes = sum(os.path.getsize(p) for p in self.feed.values())
        self.expected = jhu_feed.category_records(self.feed)
        self.expected_flat = jhu_feed.combined_records(self.feed)
        self.expected_sql = jhu_feed.deaths_by_country(self.expected)
        self.lake_bytes: list[int] = []

    def ops(self, pass_no: int) -> list[Op]:
        from jhu_data_parser_spark import etl
        from jhu_data_parser_spark.sources import lake

        spark, feed = self.spark, self.feed
        part = os.path.join(self._pass_dir(pass_no), "partitioned")
        flat = os.path.join(self._pass_dir(pass_no), "flat")
        categories = {c: feed[c] for c in jhu_feed.CATEGORIES}
        streams = self._order(pass_no, STREAM_OPS)

        def check_partitioned(_df) -> None:
            found = sorted(os.listdir(part))
            want = sorted(f"type={c}" for c in jhu_feed.CATEGORIES)
            if [d for d in found if d.startswith("type=")] != want:
                raise checks.CheckFailed(f"partitions {found}")
            for c in jhu_feed.CATEGORIES:
                if not jhu_feed.same_records(jhu_feed.read_lake(os.path.join(part, f"type={c}")), self.expected[c]):
                    raise checks.CheckFailed(f"type={c} records differ from the parser.py contract")

        def check_flat(_df) -> None:
            if not jhu_feed.same_records(jhu_feed.read_lake(flat), self.expected_flat):
                raise checks.CheckFailed("flat records differ from the parser2.py contract")

        def check_view(df) -> None:
            want = {"time_series", "province/state", "country/region", "lat", "long",
                    "country-iso2", "country-lat", "country-long", "type"}
            if set(df.columns) != want:
                raise checks.CheckFailed(f"lake columns {sorted(df.columns)}")

        def check_sql(df) -> None:
            got = {r["country"]: (r["n"], r["last_total"]) for r in df.collect()}
            if got != self.expected_sql:
                raise checks.CheckFailed("deaths aggregate differs from the records")

        return [
            Op("etl.category_pipeline",
               lambda: etl.category_pipeline(spark, categories, feed["lookup"], part),
               check_partitioned, materialize=False),
            Op("etl.combined_pipeline",
               lambda: etl.combined_pipeline(spark, feed["confirmed"], feed["deaths"],
                                             feed["recovered"], feed["lookup"], flat),
               check_flat, materialize=False),
            Op("lake.register_lake_view",
               lambda: lake.register_lake_view(spark, part, "covid"), check_view, materialize=False),
            Op("lake.sql_deaths", lambda: spark.sql(LAKE_SQL), check_sql),
        ] + [self._pinned(n, self.tables_dir) for n in streams]

    def end_pass(self, pass_no: int) -> None:
        self.lake_bytes.append(proc.tree_size(self._pass_dir(pass_no))[1])
        super().end_pass(pass_no)


class CurationSession(Workload):
    def ops(self, pass_no: int) -> list[Op]:
        fresh = os.path.join(self._pass_dir(pass_no), "tables")
        shutil.copytree(self.tables_dir, fresh)
        families = self._order(pass_no, CURATION_FAMILIES)
        return [
            self._pinned(name, fresh, family_first=(i == 0) if len(fam) > 1 else None)
            for fam in families
            for i, name in enumerate(fam)
        ]


WORKLOADS = {
    "etl_lake": EtlLake,
    "curation_session": CurationSession,
}

# Operation names per workload, for the pin generator.
PINNED_OPS = {
    "etl_lake": STREAM_OPS,
    "curation_session": [n for fam in CURATION_FAMILIES for n in fam],
}
