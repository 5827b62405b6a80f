import workloads


def _bytes(tmp_path, name, workload, seed):
    path = str(tmp_path / name)
    workloads.write_parquet(workloads.generate_table(workload, seed), path)
    with open(path, "rb") as f:
        return f.read()


def test_same_seed_gives_identical_bytes(tmp_path):
    for w in workloads.WORKLOADS:
        assert _bytes(tmp_path, "a", w, 7) == _bytes(tmp_path, "b", w, 7)


def test_other_seed_gives_other_bytes(tmp_path):
    for w in workloads.WORKLOADS:
        assert _bytes(tmp_path, "a", w, 7) != _bytes(tmp_path, "b", w, 8)


def test_workload_shapes():
    from ocr_image_to_text_spark import pyref

    mixed = workloads.generate_table("mixed", 1)
    kinds = {pyref.classify_kind(t, o) for t, o in
             zip(mixed.column("text").to_pylist(), mixed.column("tool").to_pylist())}
    assert kinds == {"boxes", "html", "plain"}
    short = workloads.generate_table("plain_short", 1)
    assert all(2 <= len(t.split()) <= 8 for t in short.column("text").to_pylist())
    for table in (mixed, short):
        warm = workloads.warm_slice(table)
        conv = table.column("conv_id").to_pylist()
        # the slice ends on a conversation boundary
        assert conv[warm.num_rows] != conv[warm.num_rows - 1]
