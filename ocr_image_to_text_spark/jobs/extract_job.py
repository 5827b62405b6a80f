"""Resumable, skew-salted extraction job (north_rule scale mechanics).

Execution model
---------------
The input is bucketed by ``part_id = pmod(xxhash64(conv_id), n_buckets)`` —
hash(conv_id) partitioning keeps a conversation's turns in one output
partition (stitch-friendly downstream). Buckets are processed in *waves*;
inside a wave the pre-UDF shuffle is salted down to turn granularity
(``xxhash64(conv_id, turn_idx)``), so a single skewed 10^6-turn
conversation spreads over every task while its output still lands in one
``part_id`` directory (extraction is per-turn independent; order is
restored at write via sortWithinPartitions).

Checkpoint / resume
-------------------
After each wave commits, one manifest row per bucket is appended::

    _manifest(part_id, status, n_turns, chars_in, chars_out,
              blocks_kept, blocks_dropped, wall_ms, run_id, lineage)

Restart = anti-join: buckets whose latest manifest status is ``done`` are
skipped. Output writes use **dynamic partition overwrite** per wave, so a
wave that died mid-write is cleanly re-written — the manifest row is the
commit marker (write-ahead ordering: data first, then manifest). This is
the Parquet-warehouse emulation of Iceberg ``MERGE INTO`` + snapshot
commit (SURVEY.md §7: no Iceberg runtime jar in the sandbox; on a real
cluster the same logic targets an Iceberg manifest table and the data
write becomes a single atomic ``overwritePartitions``).

Reference parity: replaces the md5 file cache at
ocr_app/utils/performance.py:190-268 (keyed at ocr_app/core/ocr_engine.py:241-254,
which hashes size+params only — a correctness bug we do not inherit:
our resume key is the deterministic partition of the input itself).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.extract import extract_turns, span_cols, spans_table

MANIFEST_SCHEMA = StructType([
    StructField("part_id", IntegerType(), False),
    StructField("status", StringType(), False),
    StructField("n_turns", LongType(), True),
    StructField("chars_in", LongType(), True),
    StructField("chars_out", LongType(), True),
    StructField("blocks_kept", LongType(), True),
    StructField("blocks_dropped", LongType(), True),
    StructField("n_oversized", LongType(), True),
    StructField("wall_ms", LongType(), True),
    StructField("run_id", StringType(), False),
    StructField("lineage", StringType(), True),
])


def part_id_col(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def _done_rows(spark: SparkSession, manifest_path: str) -> list:
    """The committed ``done`` manifest rows (part_id, lineage, n_turns) —
    one manifest read serves the skip set, the lineage check and the
    prior turn count."""
    if not os.path.exists(manifest_path):
        return []
    # a part is done once any committed manifest row says so (rows are
    # only ever appended after a successful data write)
    return (spark.read.parquet(manifest_path)
            .filter(F.col("status") == "done")
            .select("part_id", "lineage", "n_turns").collect())


def run_extract_job(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    n_buckets: int = 32,
    wave_size: int = 8,
    variant: str = "v2",
    fail_after_waves: int | None = None,
    salt_partitions: int | None = None,
    max_payload_chars: int | None = None,
    extras: bool = False,
) -> dict:
    """Run (or resume) the extraction job. Returns a summary dict.

    ``fail_after_waves`` injects a crash after N committed waves — used by
    the kill-and-resume test to prove checkpoint semantics.
    """
    run_id = uuid.uuid4().hex[:12]
    rollup_dir = os.path.join(out_dir, "rollup")
    spans_dir = os.path.join(out_dir, "spans")
    manifest_dir = os.path.join(out_dir, "_manifest")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    if salt_partitions is None:
        salt_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    df = spark.read.parquet(input_path)
    done_rows = _done_rows(spark, manifest_dir)
    done = {r.part_id for r in done_rows}
    todo = [p for p in range(n_buckets) if p not in done]
    if done:
        print(f"extract_job: resuming run={run_id}: "
              f"{len(done)} parts done, {len(todo)} to go")
        # Refuse to resume under settings that change row semantics or the
        # stage/rollup schema: committed partitions would silently diverge
        # from the new waves (schema inference reads one arbitrary footer).
        if done_rows[0].lineage:
            pl = json.loads(done_rows[0].lineage)
            for key, val in (("variant", variant), ("extras", extras),
                             ("n_buckets", n_buckets)):
                if key in pl and pl[key] != val:
                    raise ValueError(
                        f"resume mismatch: manifest has {key}={pl[key]!r}, "
                        f"this run has {val!r} — use a fresh --out dir")

    lineage = json.dumps({
        "input": input_path, "variant": variant, "n_buckets": n_buckets,
        "extras": extras,
        "app_id": spark.sparkContext.applicationId,
    })

    waves = [todo[i:i + wave_size] for i in range(0, len(todo), wave_size)]
    base = df.withColumn("part_id", part_id_col(n_buckets))
    n_done_waves = 0
    run_turn_counts: list[int] = []
    t_proc0 = time.perf_counter()
    for wave in waves:
        t0 = time.perf_counter()
        sub = base.filter(F.col("part_id").isin([int(p) for p in wave]))
        # F6 analog (src/ocr/preprocessor.py:14-42 size guard, SURVEY §2.9
        # resize-cap row): oversized payloads are dropped — never silently;
        # the count per bucket goes to the manifest (north_star "no silent
        # caps").
        oversized_counts: dict[int, int] = {}
        if max_payload_chars is not None:
            size_col = (F.length(F.coalesce(F.col("text"), F.lit("")))
                        + F.length(F.coalesce(F.col("tool"), F.lit(""))))
            over = sub.filter(size_col > max_payload_chars)
            oversized_counts = {r.part_id: r.n for r in
                                over.groupBy("part_id").agg(F.count("*").alias("n"))
                                .collect()}
            sub = sub.filter(size_col <= max_payload_chars)
        # Salted repartition: turn-granular hash spreads skewed convs.
        ext = extract_turns(sub, variant=variant, partitions=salt_partitions,
                            extras=extras)
        # span arrays are derivable from extracted_text (span_cols) —
        # don't double-store the string data in the published table
        ext = (ext.drop("span_starts", "span_ends", "span_texts")
               .withColumn("part_id", part_id_col(n_buckets)))
        # One UDF pass → the PUBLISHED rollup parquet (partitioned,
        # sorted); spans/stats derive from column-pruned re-reads of it.
        # (The original design wrote a _stage dir and then COPIED it to
        # rollup with a second repartition — one full extra write and two
        # extra corpus shuffles per wave that bought nothing: dynamic
        # partition overwrite + the manifest commit marker already make
        # the publish crash-consistent, and the 1-vs-4-CPU decomposition
        # showed those derive steps scaling at ~0.5/core while the
        # extraction stage scales at 0.89. No persist: caching the span
        # arrays in the JVM heap measured 3x GC wall at 32 tasks, and
        # disk-backed re-reads ride the page cache.)
        (ext.repartition("part_id")
         .sortWithinPartitions("conv_id", "turn_idx")
         .write.mode("overwrite").partitionBy("part_id").parquet(rollup_dir))
        t_stage = time.perf_counter() - t0  # the stage IS the rollup write
        # Read back ONLY this wave's partitions (the table accumulates
        # across waves; partition pruning keeps derives wave-local).
        staged = (spark.read.parquet(rollup_dir)
                  .filter(F.col("part_id").isin([int(p) for p in wave])))
        starts, ends, texts = span_cols(F.col("extracted_text"))
        with_spans = staged.select(
            "conv_id", "turn_idx", "part_id",
            starts.alias("span_starts"), ends.alias("span_ends"),
            texts.alias("span_texts"))
        # No repartition: rows arrive already grouped by part_id from the
        # pruned partitioned read, so the partitionBy write needs no
        # shuffle (the part_id hash per span row is cheap; the shuffle of
        # the exploded span TEXT — the job's largest table — was not).
        (spans_table(with_spans).withColumn("part_id", part_id_col(n_buckets))
         .write.mode("overwrite").partitionBy("part_id").parquet(spans_dir))
        t_spans = time.perf_counter() - t0 - t_stage
        t1 = time.perf_counter()
        stats = {r.part_id: r for r in staged.groupBy("part_id").agg(
            F.count("*").alias("n_turns"),
            F.sum("chars_in").alias("chars_in"),
            F.sum("chars_out").alias("chars_out"),
            F.sum("n_blocks_kept").alias("blocks_kept"),
            F.sum("n_blocks_dropped").alias("blocks_dropped"),
        ).collect()}
        t_stats = time.perf_counter() - t1
        print(f"extract_job: wave {wave[0]}..{wave[-1]} stage={t_stage:.1f}s "
              f"spans={t_spans:.1f}s stats={t_stats:.1f}s", flush=True)
        wall_ms = int((time.perf_counter() - t0) * 1000)
        run_turn_counts.append(sum(int(s.n_turns) for s in stats.values()))
        rows = []
        for p in wave:
            s = stats.get(p)
            rows.append((int(p), "done",
                         int(s.n_turns) if s else 0,
                         int(s.chars_in) if s else 0,
                         int(s.chars_out) if s else 0,
                         int(s.blocks_kept) if s else 0,
                         int(s.blocks_dropped) if s else 0,
                         int(oversized_counts.get(p, 0)),
                         wall_ms, run_id, lineage))
        # Commit marker: manifest row lands only after the data write.
        (spark.createDataFrame(rows, MANIFEST_SCHEMA)
         .coalesce(1).write.mode("append").parquet(manifest_dir))
        n_done_waves += 1
        if fail_after_waves is not None and n_done_waves >= fail_after_waves:
            raise RuntimeError(
                f"extract_job: injected failure after {n_done_waves} waves")

    # n_turns = this run's per-wave stats plus the prior runs' done rows
    n_total = (sum(run_turn_counts)
               + sum(int(r.n_turns or 0) for r in done_rows))
    summary = {
        "run_id": run_id,
        "n_buckets": n_buckets,
        "resumed_parts": len(done),
        "processed_parts": len(todo),
        "wall_s": round(time.perf_counter() - t_proc0, 3),
        "n_turns": n_total,
    }
    return summary
