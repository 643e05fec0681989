"""The name of bench.py's committed per-run copy of its details."""

from bench import stamped_details_name


def test_stamped_copy_never_overwrites(tmp_path):
    (tmp_path / "BENCH_r13.json").write_text("{}")
    assert stamped_details_name(str(tmp_path)) == "bench_details_r14.json"
    (tmp_path / "bench_details_r14.json").write_text("{}")
    assert stamped_details_name(str(tmp_path)) == "bench_details_r15.json"


def test_stamped_copy_with_no_record(tmp_path):
    assert stamped_details_name(str(tmp_path)) == "bench_details_r01.json"
