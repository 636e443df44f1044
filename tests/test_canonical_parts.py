"""canonicalize_part_names (sources/tables.py, round 15): Spark writers
embed a per-job UUID in part names, and the byte-skip pick algebra
seeds on the file path — so two byte-identical writes drew different
picks on every rebuild (the cross-round achieved-ratio drift, VERDICT
r14 "what's wrong" #2). The rename must be a pure uuid->stable
substitution preserving partition order and extensions. Pure
filesystem tests, no Spark."""

import os

from random_sampling_based_approximate_mapreduce_spark.sources.tables import canonicalize_part_names


def test_renames_uuid_parts_preserving_order_and_ext(tmp_path):
    d = str(tmp_path)
    names = [
        "part-00000-1a2b3c4d-aaaa-bbbb-cccc-000000000000-c000.txt",
        "part-00001-1a2b3c4d-aaaa-bbbb-cccc-000000000000-c000.txt",
    ]
    for i, n in enumerate(names):
        (tmp_path / n).write_text(f"p{i}")
    (tmp_path / "_SUCCESS").write_text("")
    out = canonicalize_part_names(d)
    assert [os.path.basename(p) for p in out] == [
        "part-00000.txt",
        "part-00001.txt",
    ]
    # partition order preserved: content follows the index prefix
    assert open(out[0]).read() == "p0"
    assert open(out[1]).read() == "p1"
    # markers untouched
    assert os.path.exists(os.path.join(d, "_SUCCESS"))


def test_compound_extension_kept(tmp_path):
    n = "part-00000-deadbeef-0000-1111-2222-333333333333-c000.txt.bz2"
    (tmp_path / n).write_bytes(b"x")
    out = canonicalize_part_names(str(tmp_path))
    assert [os.path.basename(p) for p in out] == ["part-00000.txt.bz2"]


def test_idempotent_on_canonical_names(tmp_path):
    (tmp_path / "part-00000.txt").write_text("a")
    (tmp_path / "part-00001.txt.gz").write_bytes(b"b")
    out1 = canonicalize_part_names(str(tmp_path))
    out2 = canonicalize_part_names(str(tmp_path))
    assert out1 == out2
    assert [os.path.basename(p) for p in out2] == [
        "part-00000.txt",
        "part-00001.txt.gz",
    ]


def test_two_identical_writes_get_identical_names(tmp_path):
    # the drift scenario: same bytes, different per-job uuids
    a, b = tmp_path / "a", tmp_path / "b"
    for d, uuid in ((a, "11111111-1111-1111-1111-111111111111"),
                    (b, "22222222-2222-2222-2222-222222222222")):
        d.mkdir()
        for i in range(3):
            (d / f"part-{i:05d}-{uuid}-c000.txt").write_text(f"row{i}")
    na = [os.path.basename(p) for p in canonicalize_part_names(str(a))]
    nb = [os.path.basename(p) for p in canonicalize_part_names(str(b))]
    assert na == nb


def test_checksums_follow_their_parts(tmp_path):
    # Spark's local writer leaves a Hadoop checksum `.<part name>.crc`
    # beside every part; it must move with the part, or the part loses
    # its checksum and an orphan keeps the per-job uuid
    uuid = "06defc4e-aaaa-bbbb-cccc-000000000000"
    for i in range(3):
        name = f"part-{i:05d}-{uuid}-c000.txt"
        (tmp_path / name).write_text(f"row{i}")
        (tmp_path / f".{name}.crc").write_bytes(b"crc%d" % i)
    (tmp_path / "._SUCCESS.crc").write_bytes(b"")
    out = canonicalize_part_names(str(tmp_path))
    crcs = sorted(f for f in os.listdir(tmp_path) if f.endswith(".crc"))
    assert not [f for f in crcs if uuid in f]
    for i, p in enumerate(out):
        crc = os.path.join(tmp_path, f".{os.path.basename(p)}.crc")
        assert open(crc, "rb").read() == b"crc%d" % i
    assert crcs == ["._SUCCESS.crc"] + [f".part-{i:05d}.txt.crc" for i in range(3)]
