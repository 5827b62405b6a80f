"""Expected job output from the pure-Python oracle, and the comparer.

The oracle is ``pyref.extract_turn`` (rollup fields) plus ``pyref.spans_of``
(spans); it shares no code with the Spark pipeline. A turn is correct when
it appears exactly once in the job's rollup, every rollup field equals
the oracle's, and its spans (ordered by ``span_idx``) equal the oracle's.
"""

from __future__ import annotations

from collections import defaultdict

import pyarrow as pa
import pyarrow.dataset as ds

from ocr_image_to_text_spark import pyref

ROLLUP_FIELDS = ("kind", "extracted_text", "n_blocks_kept", "n_blocks_dropped",
                 "table_flag", "chars_in", "chars_out")
SPAN_FIELDS = ("span_start", "span_end", "text")
_DUPLICATE = object()


def expected_tables(transcripts: pa.Table) -> tuple[pa.Table, pa.Table]:
    """(rollup, spans) tables the oracle produces for ``transcripts``."""
    rollup = {f: [] for f in ("conv_id", "turn_idx", *ROLLUP_FIELDS)}
    spans = {f: [] for f in ("conv_id", "turn_idx", "span_idx", *SPAN_FIELDS)}
    for conv, turn, text, tool in zip(*(transcripts.column(c).to_pylist()
                                        for c in ("conv_id", "turn_idx", "text", "tool"))):
        rec = pyref.extract_turn(text, tool)
        rollup["conv_id"].append(conv)
        rollup["turn_idx"].append(turn)
        for f in ROLLUP_FIELDS:
            rollup[f].append(rec[f])
        for i, (start, end, line) in enumerate(rec["spans"]):
            for f, v in zip(("conv_id", "turn_idx", "span_idx", *SPAN_FIELDS),
                            (conv, turn, i, start, end, line)):
                spans[f].append(v)
    return pa.table(rollup), pa.table(spans)


def turn_records(rollup: pa.Table, spans: pa.Table) -> dict:
    """{(conv_id, turn_idx): (rollup values, spans)} for one output."""
    out: dict = {}
    cols = [rollup.column(c).to_pylist()
            for c in ("conv_id", "turn_idx", *ROLLUP_FIELDS)]
    for conv, turn, *vals in zip(*cols):
        key = (conv, turn)
        out[key] = _DUPLICATE if key in out else tuple(vals)
    by_turn = defaultdict(list)
    scols = [spans.column(c).to_pylist()
             for c in ("conv_id", "turn_idx", "span_idx", *SPAN_FIELDS)]
    for conv, turn, idx, *vals in zip(*scols):
        by_turn[(conv, turn)].append((idx, *vals))
    return {k: v if v is _DUPLICATE else (v, tuple(sorted(by_turn.get(k, ()))))
            for k, v in out.items()}


def read_output(out_dir: str) -> tuple[pa.Table, pa.Table]:
    """The job's (rollup, spans) tables from its output directory."""
    def read(sub, cols):
        return ds.dataset(f"{out_dir}/{sub}", format="parquet",
                          partitioning="hive").to_table(columns=list(cols))
    return (read("rollup", ("conv_id", "turn_idx", *ROLLUP_FIELDS)),
            read("spans", ("conv_id", "turn_idx", "span_idx", *SPAN_FIELDS)))


def count_correct(expected: dict, actual: dict) -> int:
    """Number of expected turns that the actual output reproduces exactly."""
    return sum(1 for k, v in expected.items() if actual.get(k, _DUPLICATE) == v)


def manifest_ok(out_dir: str, n_buckets: int, n_turns: int) -> bool:
    """Every bucket committed ``done`` exactly once and the manifest's
    turn count equals the input's."""
    m = ds.dataset(f"{out_dir}/_manifest", format="parquet").to_table(
        columns=["part_id", "status", "n_turns"]).to_pylist()
    done = sorted(r["part_id"] for r in m if r["status"] == "done")
    return (done == list(range(n_buckets))
            and sum(r["n_turns"] for r in m if r["status"] == "done") == n_turns)
