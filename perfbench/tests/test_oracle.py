import pyarrow as pa

import oracle
import workloads


def _expected():
    table = workloads.warm_slice(workloads.generate_table("mixed", 3))
    return table.num_rows, oracle.expected_tables(table)


def test_identical_output_is_all_correct():
    n, (rollup, spans) = _expected()
    exp = oracle.turn_records(rollup, spans)
    assert oracle.count_correct(exp, oracle.turn_records(rollup, spans)) == n


def test_one_character_in_one_span_is_caught():
    n, (rollup, spans) = _expected()
    exp = oracle.turn_records(rollup, spans)
    texts = spans.column("text").to_pylist()
    i = next(i for i, t in enumerate(texts) if t)
    texts[i] = ("X" if texts[i][0] != "X" else "Y") + texts[i][1:]
    bad = spans.set_column(spans.schema.get_field_index("text"), "text", pa.array(texts))
    assert oracle.count_correct(exp, oracle.turn_records(rollup, bad)) == n - 1


def test_missing_and_duplicated_turns_are_caught():
    n, (rollup, spans) = _expected()
    exp = oracle.turn_records(rollup, spans)
    missing = rollup.slice(1)
    assert oracle.count_correct(exp, oracle.turn_records(missing, spans)) == n - 1
    doubled = pa.concat_tables([rollup, rollup.slice(0, 1)])
    assert oracle.count_correct(exp, oracle.turn_records(doubled, spans)) == n - 1
