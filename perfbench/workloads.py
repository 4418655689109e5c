"""The three workloads: their op lists, generated inputs and output checks.

Read workloads run registry entries over the fixture tables and check every
result against the DuckDB oracle digest stored in ``expected.json``.
``daily_ingest`` drives the write path on inputs generated from the seed
and checks invariants of what it wrote.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import json
import os
import random
from collections.abc import Callable
from dataclasses import dataclass

from canon import digest

RELATIONAL_MARTS = (
    # the reference's own mart and its staging/event twins
    "fct_orders_by_year",
    "fct_events_by_day",
    "stg_events_typed",
    # TPC-H analyst queries: aggregation and a multi-way join
    "q1_pricing_summary",
    "q3_unshipped_revenue",
    # window, sessionization and rollup analytics
    "window_top3_orders_per_customer",
    "sessionize_events",
    "events_hourly_rollup",
)

CURATION_SWEEP = (
    # shingle postings share (every dedup consumer below builds on it)
    "dedup_ngram_jaccard",
    # document connected-components share
    "dedup_components_docs",
    "dedup_reports",
    # Jaccard-0.8 pair share
    "neardup_transitivity_audit",
    # containment-0.8 pair share
    "containment_neardup_docs",
    "containment_prune_report",
    # trigram language-model share
    "text_trigram_typicality",
    # no share
    "dedup_exact_docs",
)

READ_WORKLOADS = {"relational_marts": RELATIONAL_MARTS, "curation_sweep": CURATION_SWEEP}

# prep-training runs its default stages: quality filter, exact dedup, split
# and shard write
PREP_FLAGS: tuple[str, ...] = ()


def op_order(workload: str, seed: int, pass_no: int) -> list[str]:
    """The seed sets the op order: the first consumer of a share pays its
    build. Odd passes run the order reversed, so in two consecutive passes
    a share with two consumers is built once by each of them."""
    names = list(READ_WORKLOADS[workload])
    random.Random(seed).shuffle(names)
    return names[::-1] if pass_no % 2 else names


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    # returns a list of failed-check messages; runs outside the timed region
    check: Callable[[object], list[str]]


def read_ops(spark, names: list[str], sf_dir: str, expected: dict, on_df=None) -> list[Op]:
    """One op per registry entry: build the DataFrame and collect it.

    ``on_df``, when given, runs the op instead (the traced run splits it
    into build, plan and exec spans)."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    ops = []
    for name in names:
        fn = REGISTRY[name].fn

        def run(fn=fn, name=name):
            if on_df is not None:
                return on_df(name, fn)
            df = fn(spark, sf_dir)
            return df.columns, df.collect()

        def check(result, name=name):
            cols, rows = result
            want = expected.get(name)
            if want is None:
                return [f"{name}: no expected digest"]
            got = digest(cols, rows)
            return [] if got == want else [f"{name}: got {got} want {want}"]

        ops.append(Op(name, run, check))
    return ops


# -- daily_ingest ----------------------------------------------------------

LAUNCHES_PER_DAY = 250
FIRST_DAY = dt.datetime(2024, 3, 1, 6, 0, 0)


def _hex24(rng: random.Random) -> str:
    return "%024x" % rng.getrandbits(96)


def launch_payloads(seed: int, days: int) -> list[list[dict]]:
    """Seeded SpaceX-API-v4-shaped launch batches, one per day. About 10 %
    of each later batch re-delivers ids from earlier days, about 15 % of
    launches have a NULL ``success`` and about 2 % an unparsable
    ``date_utc``."""
    rng = random.Random(seed)
    rockets = [_hex24(rng) for _ in range(4)]
    pads = [_hex24(rng) for _ in range(3)]
    delivered: list[dict] = []
    batches = []
    flight = 0
    for _day in range(days):
        batch = [dict(r) for r in rng.sample(delivered, min(len(delivered), LAUNCHES_PER_DAY // 10))]
        fresh = []
        while len(batch) + len(fresh) < LAUNCHES_PER_DAY:
            flight += 1
            when = dt.datetime(2006, 1, 1) + dt.timedelta(seconds=rng.randrange(19 * 365 * 86400))
            if rng.random() < 0.02:
                date_utc = rng.choice(["TBD", "2021-13-45T99:00:00.000Z", "", "next week"])
            else:
                date_utc = when.strftime("%Y-%m-%dT%H:%M:%S.000Z")
            roll = rng.random()
            rec = {
                "id": _hex24(rng),
                "name": f"Mission {flight}",
                "flight_number": flight,
                "date_utc": date_utc,
                "date_unix": int(when.replace(tzinfo=dt.timezone.utc).timestamp()),
                "date_precision": "hour",
                "upcoming": rng.random() < 0.05,
                "success": None if roll < 0.15 else roll < 0.9,
                "rocket": rng.choice(rockets),
                "launchpad": rng.choice(pads),
                "details": None if rng.random() < 0.3 else f"Payload deployed to orbit {rng.randrange(1000)}",
                "payloads": [_hex24(rng)],
                "cores": [{"core": _hex24(rng), "flight": rng.randrange(1, 12),
                           "landing_success": rng.random() < 0.8}],
                "links": {"webcast": f"https://example.invalid/{flight}", "wikipedia": None},
                "auto_update": True,
                "tbd": False,
            }
            fresh.append(rec)
        delivered.extend(fresh)
        batch.extend(fresh)
        rng.shuffle(batch)
        batches.append(batch)
    return batches


def correction_batch(seed: int, batches: list[list[dict]]) -> list[dict]:
    """Corrections for 5 % of the distinct delivered ids: ``success`` set
    or flipped and ``details`` rewritten. One row per key."""
    rng = random.Random(seed ^ 0x5EED)
    latest = {}
    for batch in batches:
        for rec in batch:
            latest[rec["id"]] = rec
    keys = sorted(latest)
    out = []
    for key in rng.sample(keys, len(keys) // 20):
        rec = dict(latest[key])
        rec["success"] = not bool(rec["success"])
        rec["details"] = f"corrected {key[:6]}"
        out.append(rec)
    return out


def payload_bytes(batches: list[list[dict]]) -> bytes:
    return json.dumps(batches, sort_keys=True).encode()


def land_events(spark, sf_dir: str, landed: str, seed: int, files: int = 4) -> None:
    """Land the fixture ``events`` table as parquet files, rows assigned
    to files by a seeded hash."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark import catalog

    ev = catalog.table(spark, sf_dir, "events")
    bucket = F.pmod(F.xxhash64("event_id", F.lit(seed)), F.lit(files))
    ev.repartition(files, bucket).write.mode("overwrite").parquet(landed)


class DailyIngest:
    """D daily ELT runs, a corrections upsert, compaction, a streaming
    catch-up and a prep-training run, in that order. The events files are
    landed once, in ``landed``; each pass writes inside its own ``work``."""

    def __init__(self, seed: int, days: int, sf_dir: str, expected_docs: int, landed: str):
        self.seed = seed
        self.sf_dir = sf_dir
        self.landed = landed
        self.batches = launch_payloads(seed, days)
        self.corrections = correction_batch(seed, self.batches)
        self.expected_docs = expected_docs
        self.stream_twin = None  # the batch rollup of ``landed``, computed once

    def ops(self, spark, work: str) -> list[Op]:
        from pyspark.sql import functions as F

        from spacex_data_pipeline_spark import __main__ as cli
        from spacex_data_pipeline_spark.plans import warehouse
        from spacex_data_pipeline_spark.sources import rest_api, sinks
        from spacex_data_pipeline_spark.streaming import ingest
        from spacex_data_pipeline_spark.streaming.rollup import hourly_rollup_stream

        wh = warehouse.Warehouse(os.path.join(work, "warehouse"))
        raw_path = wh.path("raw", "spacex_launches")
        mart_path = wh.path("analytics", "fct_spacex_launches_by_year")
        current_path = wh.path("analytics", "launches_current")
        landed = self.landed
        if not os.path.isdir(landed):
            land_events(spark, self.sf_dir, landed, self.seed)
        ops: list[Op] = []

        def read_raw():
            return spark.read.schema(rest_api.RAW_SCHEMA).parquet(raw_path)

        rows_so_far = 0
        for day, batch in enumerate(self.batches):
            rows_so_far += len(batch)

            def run_day(batch=batch, day=day):
                warehouse.run_spacex_pipeline(
                    spark, wh, fetch=lambda: batch,
                    load_ts=FIRST_DAY + dt.timedelta(days=day), mode="append",
                )

            def check_day(_result, want=rows_so_far, day=day):
                errs = []
                raw_n = read_raw().count()
                mart = spark.read.parquet(mart_path).collect()
                if raw_n != want:
                    errs.append(f"day {day}: raw rows {raw_n} != generated {want}")
                if sum(r.launches for r in mart) != raw_n:
                    errs.append(f"day {day}: mart launches do not sum to raw rows")
                if any(r.successes + r.failures != r.launches for r in mart):
                    errs.append(f"day {day}: successes + failures != launches")
                return errs

            ops.append(Op(f"day_{day + 1}", run_day, check_day))

        corr_ts = FIRST_DAY + dt.timedelta(days=len(self.batches))
        n_keys = len({rec["id"] for batch in self.batches for rec in batch})
        rows_after_upsert = []

        def run_upsert():
            sinks.write_snapshot(sinks.dedup_on_read(read_raw(), "launch_id"), current_path)
            corr = rest_api.normalize(spark, self.corrections, load_ts=corr_ts)
            sinks.upsert_by_key(spark, corr, current_path, "launch_id")

        def current_state():
            """(rows, distinct keys, {corrected key: (success, details)})."""
            cur = spark.read.parquet(current_path)
            rows, keys = cur.agg(F.count(F.lit(1)), F.countDistinct("launch_id")).first()
            corrected_ids = [c["id"] for c in self.corrections]
            corrected = {
                r.launch_id: (r.success, r.details)
                for r in cur.filter(F.col("launch_id").isin(corrected_ids)).collect()
            }
            return rows, keys, corrected

        def check_upsert(_result):
            rows, keys, corrected = current_state()
            rows_after_upsert.append(rows)
            errs = []
            if rows != n_keys or keys != n_keys:
                errs.append(f"upsert: {rows} rows / {keys} keys, want one row for each of {n_keys} keys")
            want = {c["id"]: (c["success"], c["details"]) for c in self.corrections}
            if corrected != want:
                errs.append(f"upsert: {sum(corrected.get(k) != v for k, v in want.items())} corrected keys wrong")
            return errs

        def check_compact(files):
            rows, keys, _ = current_state()
            if rows != rows_after_upsert[-1] or keys != n_keys or files < 1:
                return [f"compact: {rows} rows after, {rows_after_upsert[-1]} before, {files} files"]
            return []

        ops.append(Op("upsert_corrections", run_upsert, check_upsert))
        ops.append(Op("compact", lambda: sinks.compact(spark, current_path), check_compact))

        rollup_out = os.path.join(work, "hourly_rollup")

        def run_stream():
            stream = ingest.stream_events_from_files(spark, landed)
            ingest.run_available_now_to_parquet(
                hourly_rollup_stream(stream), os.path.join(work, "ck_hourly"), rollup_out
            )

        def check_stream(_result):
            from spacex_data_pipeline_spark.functions.numeric import dsum

            got = {
                (r.hour_start, r.event_type): (r.n, r.total_value)
                for r in spark.read.parquet(rollup_out).collect()
            }
            if self.stream_twin is None:
                batch = spark.read.parquet(landed)
                # append mode emits a window once the 2-hour watermark passes its end
                horizon = batch.agg(F.max("ts")).first()[0] - dt.timedelta(hours=2)
                self.stream_twin = {
                    (r.hour_start, r.event_type): (r.n, r.total_value)
                    for r in batch.groupBy(F.window("ts", "1 hour").start.alias("hour_start"), "event_type")
                    .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
                    .collect()
                    if r.hour_start + dt.timedelta(hours=1) <= horizon
                }
            want = self.stream_twin
            if not want or got != want:
                return [f"stream: {len(got)} windows, batch twin has {len(want)}"]
            return []

        ops.append(Op("stream_catchup", run_stream, check_stream))

        shards = os.path.join(work, "shards")
        argv = ["prep-training", "--sf-dir", self.sf_dir, "--out", shards, "--shards", "4", *PREP_FLAGS]

        def run_prep():
            with contextlib.redirect_stdout(io.StringIO()):
                return cli.main(argv, _spark=spark)

        def check_prep(code):
            n, ids, held_out = spark.read.parquet(shards).agg(
                F.count(F.lit(1)),
                F.countDistinct("doc_id"),
                F.count(F.when(F.col("doc_id") % 50 == 0, 1)),
            ).first()
            errs = []
            if code != 0:
                errs.append(f"prep-training exited {code}")
            if n != self.expected_docs:
                errs.append(f"prep-training: {n} docs, stored value {self.expected_docs}")
            if ids != n:
                errs.append("prep-training: a doc_id appears in more than one shard row")
            if held_out:
                errs.append("prep-training: a held-out doc_id % 50 == 0 doc is present")
            return errs

        ops.append(Op("prep_training", run_prep, check_prep))
        return ops
