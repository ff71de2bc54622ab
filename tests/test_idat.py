"""Round-trip tests for the real IDAT binary decoder (SURVEY S5).

The encoder below writes the published IDAT v3 layout (illuminaio
paper) so the decoder is validated against independently-constructed
binaries, not against itself.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from methyl_data_pipeline_spark.io.idat import (
    betas_from_intensities,
    decode_idat,
    parse_idat,
)
from methyl_data_pipeline_spark.io.readers import read_idat_dir


def _7bit(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _string(s: str) -> bytes:
    raw = s.encode("utf-8")
    return _7bit(len(raw)) + raw


def make_idat(
    addresses: np.ndarray,
    means: np.ndarray,
    sds: np.ndarray | None = None,
    n_beads: np.ndarray | None = None,
    barcode: str = "204375590015",
    position: str = "R01C01",
    omit: tuple[int, ...] = (),
) -> bytes:
    """Encode an IDAT v3 blob: header, field directory, payloads.
    ``omit`` drops field codes (e.g. the optional SD 103 / NBeads 107)."""
    n = len(addresses)
    if sds is None:
        sds = np.full(n, 7, dtype="<u2")
    if n_beads is None:
        n_beads = np.full(n, 12, dtype="u1")
    payloads = [
        (1000, struct.pack("<i", n)),
        (102, addresses.astype("<i4").tobytes()),
        (103, sds.astype("<u2").tobytes()),
        (104, means.astype("<u2").tobytes()),
        (107, n_beads.astype("u1").tobytes()),
        (400, struct.pack("<i", 1)),
        (402, _string(barcode)),
        (403, _string("BeadChip 8x5")),
        (404, _string(position)),
    ]
    payloads = [(code, blob) for code, blob in payloads if code not in omit]
    header_size = 4 + 8 + 4 + 10 * len(payloads)
    body = bytearray()
    directory = bytearray()
    off = header_size
    for code, blob in payloads:
        directory += struct.pack("<Hq", code, off)
        body += blob
        off += len(blob)
    return b"IDAT" + struct.pack("<q", 3) + struct.pack("<i", len(payloads)) + bytes(
        directory
    ) + bytes(body)


@pytest.fixture(scope="module")
def idat_dir(tmp_path_factory):
    rng = np.random.default_rng(7)
    root = tmp_path_factory.mktemp("idat")
    addresses = np.arange(100, 100 + 50, dtype="<i4")
    files = {}
    for base in ["204375590015_R01C01", "204375590015_R02C01"]:
        for channel in ["Grn", "Red"]:
            means = rng.integers(50, 5000, size=50).astype("<u2")
            blob = make_idat(addresses, means, position=base.split("_")[1])
            (root / f"{base}_{channel}.idat").write_bytes(blob)
            files[(base, channel)] = means
    return root, addresses, files


def test_parse_idat_roundtrip():
    addresses = np.array([10, 20, 30], dtype="<i4")
    means = np.array([100, 2000, 65535], dtype="<u2")
    d = parse_idat(make_idat(addresses, means, barcode="B123", position="R09C02"))
    assert d["n"] == 3
    np.testing.assert_array_equal(d["address_id"], addresses)
    np.testing.assert_array_equal(d["mean"], means)
    assert d["barcode"] == "B123"
    assert d["position"] == "R09C02"
    assert d["red_green"] == 1


def test_parse_idat_rejects_garbage():
    with pytest.raises(ValueError):
        parse_idat(b"NOPE" + b"\x00" * 100)


def test_7bit_string_lengths():
    # force a >127-byte string so the varint continuation path is hit
    long = "x" * 300
    d = parse_idat(
        make_idat(
            np.array([1], dtype="<i4"), np.array([5], dtype="<u2"), barcode=long
        )
    )
    assert d["barcode"] == long


def test_decode_idat_spark(spark, idat_dir):
    root, addresses, files = idat_dir
    df = decode_idat(read_idat_dir(spark, str(root)))
    rows = df.collect()
    # 4 files x 50 probes
    assert len(rows) == 200
    by_key = {}
    for r in rows:
        by_key.setdefault((r.basename, r.channel), []).append(r)
    assert set(by_key) == set(files)
    for key, recs in by_key.items():
        recs = sorted(recs, key=lambda r: r.address_id)
        np.testing.assert_array_equal(
            np.array([r.address_id for r in recs]), addresses.astype("int64")
        )
        np.testing.assert_array_equal(
            np.array([r.mean for r in recs]), files[key].astype("int32")
        )
    assert rows[0].barcode == "204375590015"


def test_betas_from_intensities(spark, idat_dir):
    root, addresses, files = idat_dir
    decoded = decode_idat(read_idat_dir(spark, str(root)))
    # manifest: first 10 addresses = Type II probes; next 20 paired into
    # 10 Type I Grn probes (address_m, address_u)
    t2 = [
        ("cg%08d" % i, "II", None, int(addresses[i]), int(addresses[i]))
        for i in range(10)
    ]
    t1 = [
        (
            "cg%08d" % (100 + i),
            "I",
            "Grn",
            int(addresses[10 + 2 * i]),
            int(addresses[11 + 2 * i]),
        )
        for i in range(10)
    ]
    manifest = spark.createDataFrame(
        t2 + t1, "probe_id string, design_type string, color string, "
        "address_m long, address_u long"
    )
    out = betas_from_intensities(decoded, manifest).collect()
    # 2 samples x 20 probes
    assert len(out) == 40
    got = {(r.basename, r.probe_id): r.beta for r in out}
    for base in ["204375590015_R01C01", "204375590015_R02C01"]:
        grn = files[(base, "Grn")]
        red = files[(base, "Red")]
        for i in range(10):
            m, u = float(grn[i]), float(red[i])
            assert got[(base, "cg%08d" % i)] == pytest.approx(m / (m + u + 100.0))
        for i in range(10):
            m, u = float(grn[10 + 2 * i]), float(grn[11 + 2 * i])
            assert got[(base, "cg%08d" % (100 + i))] == pytest.approx(
                m / (m + u + 100.0)
            )
    vals = [r.beta for r in out]
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_decode_idat_absent_optional_fields(spark, tmp_path):
    """SD (103) and NBeads (107) are optional: a file without them
    decodes to null ``sd`` / ``n_beads`` with exact addresses and means."""
    addresses = np.array([7, 3, 11, 5], dtype="<i4")
    means = np.array([0, 65535, 1234, 42], dtype="<u2")
    (tmp_path / "S9_Grn.idat").write_bytes(
        make_idat(addresses, means, omit=(103, 107))
    )
    rows = decode_idat(read_idat_dir(spark, str(tmp_path))).collect()
    assert [r.address_id for r in rows] == addresses.astype("int64").tolist()
    assert [r.mean for r in rows] == means.astype("int32").tolist()
    assert all(r.sd is None and r.n_beads is None for r in rows)
    assert {(r.basename, r.channel, r.barcode, r.position) for r in rows} == {
        ("S9", "Grn", "204375590015", "R01C01")
    }


@pytest.fixture(scope="module")
def edge_case(spark, tmp_path_factory):
    """Sample A has both channels, sample G only its _Grn file, and S.idat
    carries no channel suffix. The manifest holds 5 Type II probes,
    3 Type I Grn and 3 Type I Red probes."""
    rng = np.random.default_rng(23)
    root = tmp_path_factory.mktemp("idat_edge")
    addresses = np.arange(100, 117, dtype="<i4")
    means = {}
    for name in ["A_Grn", "A_Red", "G_Grn", "S"]:
        means[name] = rng.integers(50, 5000, size=len(addresses)).astype("<u2")
        (root / f"{name}.idat").write_bytes(make_idat(addresses, means[name]))
    t2 = [("t2_%d" % i, "II", None, 100 + i, 100 + i) for i in range(5)]
    t1 = [
        ("t1%s_%d" % (color, i), "I", color, base + 2 * i, base + 2 * i + 1)
        for color, base in (("Grn", 105), ("Red", 111))
        for i in range(3)
    ]
    manifest = spark.createDataFrame(
        t2 + t1, "probe_id string, design_type string, color string, "
        "address_m long, address_u long",
    )
    decoded = decode_idat(read_idat_dir(spark, str(root)))
    out = betas_from_intensities(decoded, manifest).collect()
    return {(r.basename, r.probe_id): r.beta for r in out}, means


def _beta(m, u) -> float:
    return float(m) / (float(m) + float(u) + 100.0)


def test_betas_type_i_red_probes(edge_case):
    """A Type I Red probe reads both its addresses in the Red channel."""
    got, means = edge_case
    red = means["A_Red"]
    for i in range(3):
        m_idx, u_idx = 11 + 2 * i, 12 + 2 * i
        assert got[("A", "t1Red_%d" % i)] == _beta(red[m_idx], red[u_idx])
    grn = means["A_Grn"]
    for i in range(3):
        assert got[("A", "t1Grn_%d" % i)] == _beta(grn[5 + 2 * i], grn[6 + 2 * i])
    for i in range(5):
        assert got[("A", "t2_%d" % i)] == _beta(grn[i], red[i])


def test_betas_sample_with_only_grn_file(edge_case):
    """Without a _Red file, Type II probes come out with a null beta (no
    unmethylated intensity), Grn Type I probes keep their beta and Red
    Type I probes are absent."""
    got, means = edge_case
    keys = {p for b, p in got if b == "G"}
    assert keys == {"t2_%d" % i for i in range(5)} | {"t1Grn_%d" % i for i in range(3)}
    for i in range(5):
        assert got[("G", "t2_%d" % i)] is None
    grn = means["G_Grn"]
    for i in range(3):
        assert got[("G", "t1Grn_%d" % i)] == _beta(grn[5 + 2 * i], grn[6 + 2 * i])


def test_betas_channel_less_file(edge_case):
    """S.idat parses with an empty channel: it matches no Type I color,
    and its Type II rows carry neither intensity, so their beta is null."""
    got, _ = edge_case
    assert {p for b, p in got if b == "S"} == {"t2_%d" % i for i in range(5)}
    assert all(got[("S", "t2_%d" % i)] is None for i in range(5))
    assert len(got) == 11 + 8 + 5


def test_idat_to_qc_pipeline(spark, idat_dir):
    """Entry-point-B shape (workflow.R: IDAT -> betas -> detP QC):
    decode real IDAT binaries, build betas from a manifest, then run
    the engine's QC operators on the resulting long table."""
    from pyspark.sql import functions as F

    from methyl_data_pipeline_spark.operators.qc import drop_incomplete_probes

    root, addresses, files = idat_dir
    decoded = decode_idat(read_idat_dir(spark, str(root)))
    manifest = spark.createDataFrame(
        [
            ("cg%08d" % i, "II", None, int(addresses[i]), int(addresses[i]))
            for i in range(20)
        ],
        "probe_id string, design_type string, color string, "
        "address_m long, address_u long",
    )
    betas = betas_from_intensities(decoded, manifest).withColumnRenamed(
        "basename", "sample_id"
    )
    # all probes observed in both samples -> survive completeness QC
    complete = drop_incomplete_probes(betas, value_col="beta")
    assert complete.count() == 40
    # betas are valid methylation fractions
    mm = complete.agg(F.min("beta"), F.max("beta")).first()
    assert 0.0 <= mm[0] <= mm[1] <= 1.0
    # knocking out one sample's rows for a probe drops that probe
    holey = betas.filter(
        ~((F.col("probe_id") == "cg00000003") & F.col("sample_id").endswith("R01C01"))
    )
    kept = drop_incomplete_probes(holey, value_col="beta")
    assert kept.filter(F.col("probe_id") == "cg00000003").count() == 0
    assert kept.count() == 38


def test_idat_staged_tree_to_dmp_end_to_end(spark, tmp_path):
    """The full S5/S6 ingest chain the reference opens with
    (workflow.R:23-24): raw .idat BYTES — some inside a zip archive —
    through stage_idat_tree (extract + flat staging) -> read_idat_dir
    (binaryFile glob) -> decode_idat (real v3 parser) -> manifest betas
    -> run_methylation_pipeline, ending in DMP rows with the planted
    group effect ranked first."""
    from pyspark.sql import functions as F

    from methyl_data_pipeline_spark.io.readers import stage_idat_tree
    from methyl_data_pipeline_spark.plans.pipeline import run_methylation_pipeline

    rng = np.random.default_rng(11)
    n_probes = 30
    addresses = np.arange(500, 500 + n_probes, dtype="<i4")
    # 4 samples: group from the chip position, batch (run) from barcode
    sample_specs = [
        ("204000000001_R01C01", "A"), ("204000000001_R02C01", "B"),
        ("204000000002_R01C01", "A"), ("204000000002_R02C01", "B"),
    ]

    def sample_blobs(base: str, grp: str) -> dict[str, bytes]:
        # probe 0 carries a huge group effect (beta ~0.05 vs ~0.95);
        # the rest hover mid-range
        grn = rng.integers(1800, 2200, size=n_probes).astype("<u2")
        red = rng.integers(1800, 2200, size=n_probes).astype("<u2")
        if grp == "A":
            grn[0], red[0] = 100, 4000
        else:
            grn[0], red[0] = 4000, 100
        barcode, position = base.split("_")
        return {
            ch: make_idat(addresses, m, barcode=barcode, position=position)
            for ch, m in (("Grn", grn), ("Red", red))
        }

    # source tree: sample 1 loose in a subdir, samples 2-4 inside a zip
    import zipfile

    source = tmp_path / "source"
    (source / "sub").mkdir(parents=True)
    loose_base, loose_grp = sample_specs[0]
    for ch, blob in sample_blobs(loose_base, loose_grp).items():
        (source / "sub" / f"{loose_base}_{ch}.idat").write_bytes(blob)
    with zipfile.ZipFile(source / "batch2.zip", "w") as zf:
        for base, grp in sample_specs[1:]:
            for ch, blob in sample_blobs(base, grp).items():
                zf.writestr(f"inner/{base}_{ch}.idat", blob)

    staging = tmp_path / "staged"
    staged = stage_idat_tree(str(source), str(staging))
    assert len(staged) == 8  # 4 samples x 2 channels

    decoded = decode_idat(read_idat_dir(spark, str(staging)))
    manifest = spark.createDataFrame(
        [("cg%08d" % i, "II", None, int(addresses[i]), int(addresses[i]))
         for i in range(n_probes)],
        "probe_id string, design_type string, color string, "
        "address_m long, address_u long",
    )
    meth = (
        betas_from_intensities(decoded, manifest)
        .withColumnRenamed("basename", "sample_id")
        .withColumn("run", F.substring("sample_id", 12, 1))
        .withColumn("det_p", F.lit(0.001))
        .select("probe_id", "sample_id", "run", "beta", "det_p")
    )
    probes = spark.createDataFrame(
        [("cg%08d" % i, 2, "chr1") for i in range(n_probes)],
        "probe_id string, design_type int, chr string",
    )
    samples = spark.createDataFrame(
        [(b, g) for b, g in sample_specs], "sample_id string, grp string"
    )

    res = run_methylation_pipeline(
        meth, probes, samples, run_bmiq=False, run_combat=False,
        top_k=n_probes, pca_k=2, dmp_groups=("grp", "A", "B"),
    )
    dmp = res.dmp.toPandas().set_index("probe_id")
    assert len(dmp) == n_probes
    # the planted probe's p underflows to exactly 0.0 (|t| ~ 78 at the
    # EB-inflated dof) — valid, so the lower bound is inclusive
    assert ((dmp["p_value"] >= 0) & (dmp["p_value"] <= 1)).all()
    assert dmp["t_mod"].abs().idxmax() == "cg00000000"
    assert dmp["adj_p"].idxmin() == "cg00000000"
    assert len(res.explained_variance) == 2


def test_staging_collision_preserves_channel_contract(spark, tmp_path):
    """Collision suffixes must land on the BASENAME (S1_1_Grn.idat),
    never after the channel (S1_Grn_1.idat would parse channel-less and
    silently unpair the sample), and uppercase .IDAT files must be
    staged readable by the reader's lowercase glob."""
    import numpy as np

    from methyl_data_pipeline_spark.io.readers import (
        read_idat_dir,
        stage_idat_tree,
    )

    src = tmp_path / "src"
    stg = tmp_path / "stage"
    (src / "a").mkdir(parents=True)
    (src / "b").mkdir(parents=True)
    blob = make_idat(np.array([10, 20, 30]), np.array([100, 200, 300]))
    for p in ["a/S1_Grn.idat", "a/S1_Red.idat", "b/S1_Grn.idat"]:
        (src / p).write_bytes(blob)
    (src / "b/S1_Red.IDAT").write_bytes(blob)  # uppercase vendor file

    stage_idat_tree(str(src), str(stg), extract_zips=False)
    rows = sorted(
        (r.basename, r.channel)
        for r in read_idat_dir(spark, str(stg)).select("basename", "channel").collect()
    )
    # both samples fully paired, all channels parsed
    assert rows == [
        ("S1", "Grn"), ("S1", "Red"), ("S1_1", "Grn"), ("S1_1", "Red"),
    ]
