"""tables.input_bytes: driver-side size estimate of a frame's input files."""


def _write(d, sizes):
    d.mkdir()
    for i, n in enumerate(sizes):
        (d / f"part-{i:03d}.txt").write_bytes(b"x" * (n - 1) + b"\n" if n else b"")
    return str(d)


def test_zero_byte_file_does_not_inflate_the_estimate(spark, tmp_path):
    from enterprise_warp_spark.tables import input_bytes

    df = spark.read.text(_write(tmp_path / "mixed", [100, 0, 60]))
    assert len(df.inputFiles()) == 3
    # the mean of the non-empty files is not extrapolated over the empty one
    assert input_bytes(df) == 160


def test_unsampled_files_take_the_sampled_mean(spark, tmp_path):
    from enterprise_warp_spark.tables import input_bytes

    df = spark.read.text(_write(tmp_path / "many", [10] * 70))
    assert input_bytes(df) == 700


def test_non_file_input_is_unknown(spark):
    from enterprise_warp_spark.tables import input_bytes

    assert input_bytes(spark.range(10)) == 0
