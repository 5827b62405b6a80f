"""Seeded transcript workloads for the benchmark.

Every workload is a ``transcripts`` parquet with the schema of
``ocr_image_to_text_spark.transcripts.SCHEMA``, written the way
``ensure_transcripts`` writes it (zstd, 4096-row groups). Payloads come
from the package's own generators (``_boxes_payload``, ``_html_payload``,
``_plain_payload`` via ``_emit_conv``) driven by ``random.Random(seed)``,
so the same (workload, seed) gives byte-identical files.

Workloads (see BENCHMARK.json for why each was chosen):

* ``mixed``: boxes:html:plain = 4:3:3 turns, conversation length
  2+Exp(0.35) capped at 40 -- the bench-tier shape at a smaller size.
* ``plain_short``: plain turns of 2-8 words; the Python kernel is nearly
  idle, so per-row costs (scan, classify, Arrow boundary, shuffle, span
  explode, writes) dominate.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_image_to_text_spark import transcripts as T

# The warm-up slice: whole conversations from the head of the workload.
# A new process runs one whole job over it before timing; a restarted
# session runs its first UDF pass over it.
WARM_TURNS = 1500


def _mixed_rows(rng: random.Random, n_turns: int):
    conv_no = n = 0
    while n < n_turns:
        length = min(2 + int(rng.expovariate(0.35)), 40)
        kinds = [(rng.choices(["boxes", "html", "plain"], weights=[4, 3, 3])[0], None)
                 for _ in range(length)]
        yield from T._emit_conv(f"conv-{conv_no:06d}", kinds, rng, conv_no)
        conv_no += 1
        n += length


def _plain_short_rows(rng: random.Random, n_turns: int):
    conv_no = n = 0
    while n < n_turns:
        length = min(2 + int(rng.expovariate(0.35)), 40)
        base_ts = T.EPOCH + dt.timedelta(seconds=conv_no * 3600)
        for turn_idx in range(length):
            yield {
                "conv_id": f"conv-{conv_no:06d}",
                "turn_idx": turn_idx,
                "role": T.ROLES[turn_idx % 3],
                "text": T._sentence(rng, rng.randint(2, 8)) + rng.choice(["", " ", "\t"]),
                "tool": "",
                "ts": base_ts + dt.timedelta(seconds=turn_idx),
            }
        conv_no += 1
        n += length


# workload -> (row generator, input turns)
WORKLOADS = {"mixed": (_mixed_rows, 8000), "plain_short": (_plain_short_rows, 20000)}


def generate_table(workload: str, seed: int) -> pa.Table:
    """The workload's transcripts table for ``seed`` (deterministic)."""
    rows_of, n_turns = WORKLOADS[workload]
    rng = random.Random(f"perfbench:{workload}:{seed}")
    rows = list(rows_of(rng, n_turns))
    cols = {name: [r[name] for r in rows] for name in T.SCHEMA.names}
    return pa.Table.from_pydict(cols, schema=T.SCHEMA)


def write_parquet(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="zstd", row_group_size=4096)
    os.replace(tmp, path)


def warm_slice(table: pa.Table) -> pa.Table:
    """Whole conversations from the head of ``table``, about WARM_TURNS turns."""
    conv = table.column("conv_id").to_pylist()
    end = min(WARM_TURNS, len(conv))
    while end < len(conv) and conv[end] == conv[end - 1]:
        end += 1
    return table.slice(0, end)
