"""Seeded input generators for the three benchmark workloads.

Each generator writes the files the library reads and, beside them, the
planted truth the correctness checks compare against. The same
(workload, seed, shape) always produces byte-identical files; outputs are
cached on disk under that key and are never timed.

- ``epic_cohort``: an EPIC-shaped long ``(probe_id, sample_id, run, beta,
  det_p)`` table (one parquet file per sample), a probes dimension and a
  sample sheet.
- ``idat_ingest``: IDAT v3 files (``<basename>_{Grn,Red}.idat``) written by
  this module's own encoder of the published layout, plus a probe manifest.
- ``corpus_curate``: a document corpus (one parquet file per source) and a
  small evaluation set for decontamination.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHAPES = {
    "epic_cohort": {"n_probes": 4_000, "n_samples": 16},
    "idat_ingest": {"n_probes": 285_000, "n_samples": 2, "type1_frac": 0.3},
    "corpus_curate": {"n_docs": 3_000, "n_sources": 8, "n_eval": 50},
}

STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"]


def _rng(workload: str, seed: int) -> np.random.Generator:
    salt = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    return np.random.default_rng(np.random.SeedSequence([seed, salt]))


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _write_json(obj, path: str) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, sort_keys=True)


# ---------------------------------------------------------------- epic_cohort


def _beta_to_m(b: np.ndarray) -> np.ndarray:
    return np.log2(b / (1.0 - b))


def _m_to_beta(m: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp2(-m))


def gen_epic_cohort(out: str, seed: int, n_probes: int, n_samples: int) -> dict:
    """Cohort of ``n_samples`` arrays in 2 runs x 2 genotypes.

    Planted truth: bimodal betas (with a smaller hemimethylated class)
    whose Type I and Type II distributions differ, a per-probe batch
    shift in run R1, ~1% differentially methylated probes (DMPs) between
    WT and KO, ~2% non-``cg`` probes, ~3% chrX/chrY probes, one sample
    failing detection p, and ~0.5% of probes failing detection p in one
    retained sample.
    """
    rng = _rng("epic_cohort", seed)
    idx = np.arange(n_probes)
    kind = rng.random(n_probes)
    probe_ids = np.where(
        kind < 0.01,
        np.char.add("ch.", idx.astype(str)),
        np.where(kind < 0.02, np.char.add("rs", idx.astype(str)),
                 np.char.add("cg", np.char.zfill(idx.astype(str), 8))),
    )
    is_cg = kind >= 0.02
    chroms = np.char.add("chr", rng.integers(1, 20, n_probes).astype(str))
    sex = rng.random(n_probes) < 0.03
    chroms[sex] = np.where(rng.random(int(sex.sum())) < 0.7, "chrX", "chrY")
    design = np.where(rng.random(n_probes) < 0.3, 1, 2).astype(np.int32)

    # baseline beta: bimodal, unmethylated or methylated, plus a smaller
    # hemimethylated class in the middle, as on real arrays; Type II
    # peaks sit closer to the middle than Type I peaks. BMIQ fits three
    # classes per sample and passes a sample through unnormalized when
    # a class holds fewer than 50 probes, so without the middle class
    # some samples (those with fewer DMPs in mid-range) are left raw
    # and the DMP table calls every probe they shift.
    state = rng.choice(3, n_probes, p=[0.425, 0.15, 0.425])  # U, H, M
    lo, hi = np.where(design == 1, 2.0, 4.0), np.where(design == 1, 40.0, 16.0)
    mid = np.where(design == 1, 12.0, 8.0)
    a = np.choose(state, [lo, mid, hi])
    b = np.choose(state, [hi, mid, lo])
    base_m = _beta_to_m(np.clip(rng.beta(a, b), 1e-3, 1 - 1e-3))

    runs = np.array(["R0"] * (n_samples // 2) + ["R1"] * (n_samples - n_samples // 2))
    genotype = np.array(["WT", "KO"] * (n_samples // 2) + ["WT"] * (n_samples % 2))
    sample_ids = np.array([f"S{k:02d}_{runs[k]}" for k in range(n_samples)])
    bad_sample = int(rng.integers(n_samples))

    # detection p: clean everywhere except the failing sample and a few
    # probes that fail in exactly one retained sample
    detp = rng.uniform(0.0, 0.01, (n_samples, n_probes))
    detp[bad_sample] = rng.uniform(0.02, 0.2, n_probes)
    retained = [k for k in range(n_samples) if k != bad_sample]
    fail_probe = rng.random(n_probes) < 0.005
    fail_sample = rng.choice(retained, int(fail_probe.sum()))
    detp[fail_sample, np.flatnonzero(fail_probe)] = rng.uniform(0.06, 0.5, int(fail_probe.sum()))

    survivors = is_cg & ~sex & ~fail_probe
    dmp = survivors & (rng.random(n_probes) < 0.01)
    effect = np.where(dmp, rng.choice([-1.0, 1.0], n_probes) * rng.uniform(3.0, 4.0, n_probes), 0.0)
    batch = rng.normal(0.5, 0.15, n_probes)

    m = (
        base_m[None, :]
        + rng.normal(0.0, 0.3, (n_samples, n_probes))
        + (runs == "R1")[:, None] * batch[None, :]
        + (genotype == "KO")[:, None] * effect[None, :]
    )
    beta = _m_to_beta(m)

    os.makedirs(os.path.join(out, "meth"))
    for k in range(n_samples):
        _write_parquet(
            pa.table({
                "probe_id": probe_ids,
                "sample_id": np.full(n_probes, sample_ids[k]),
                "run": np.full(n_probes, runs[k]),
                "beta": beta[k],
                "det_p": detp[k],
            }),
            os.path.join(out, "meth", f"part-{k:02d}.parquet"),
        )
    _write_parquet(
        pa.table({"probe_id": probe_ids, "design_type": design, "chr": chroms}),
        os.path.join(out, "probes.parquet"),
    )
    _write_parquet(
        pa.table({"sample_id": sample_ids, "run": runs, "genotype": genotype}),
        os.path.join(out, "samples.parquet"),
    )
    return {
        "input_rows": n_samples * n_probes,
        "qc_samples": sorted(sample_ids[retained].tolist()),
        "qc_probes": sorted(probe_ids[survivors].tolist()),
        "dmp_probes": sorted(probe_ids[dmp].tolist()),
    }


# ---------------------------------------------------------------- idat_ingest


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        byte = n & 0x7F
        n >>= 7
        if n:
            out.append(byte | 0x80)
        else:
            out.append(byte)
            return bytes(out)


def _idat_string(s: str) -> bytes:
    raw = s.encode("utf-8")
    return _varint(len(raw)) + raw


def encode_idat(addresses: np.ndarray, means: np.ndarray, barcode: str, position: str) -> bytes:
    """IDAT v3 blob in the published layout: ``"IDAT"`` magic, int64
    version 3, int32 field count, ``(uint16 code, int64 offset)``
    directory, then little-endian payloads."""
    n = len(addresses)
    payloads = [
        (1000, struct.pack("<i", n)),
        (102, addresses.astype("<i4").tobytes()),
        (103, np.full(n, 7, dtype="<u2").tobytes()),
        (104, means.astype("<u2").tobytes()),
        (107, np.full(n, 12, dtype="u1").tobytes()),
        (400, struct.pack("<i", 1)),
        (402, _idat_string(barcode)),
        (403, _idat_string("BeadChip 8x1")),
        (404, _idat_string(position)),
    ]
    off = 4 + 8 + 4 + 10 * len(payloads)
    directory = bytearray()
    for code, blob in payloads:
        directory += struct.pack("<Hq", code, off)
        off += len(blob)
    header = b"IDAT" + struct.pack("<q", 3) + struct.pack("<i", len(payloads))
    return header + bytes(directory) + b"".join(blob for _, blob in payloads)


def gen_idat_ingest(out: str, seed: int, n_probes: int, n_samples: int, type1_frac: float) -> dict:
    """Two-channel IDAT pairs for ``n_samples`` arrays, 8 to a chip (a
    chip is a run), plus a manifest with ~``type1_frac`` Type I probes.

    Type II probes read one address: methylated = Grn, unmethylated = Red.
    Type I probes read two addresses (M and U) in their own color. The
    planted truth is every sample's beta ``M / (M + U + 100)``, computed
    here in NumPy from the intensities written."""
    rng = _rng("idat_ingest", seed)
    type1 = rng.random(n_probes) < type1_frac
    n1 = int(type1.sum())
    n_addr = n_probes + n1
    addresses = (rng.permutation(9_000_000)[:n_addr] + 1_000_000).astype(np.int32)
    addr_m = addresses[:n_probes]
    addr_u = addr_m.copy()
    addr_u[type1] = addresses[n_probes:]
    color = np.where(type1, np.where(rng.random(n_probes) < 0.5, "Red", "Grn"), None)
    probe_ids = np.char.add("cg", np.char.zfill(np.arange(n_probes).astype(str), 8))
    pos_of = {int(a): i for i, a in enumerate(addresses)}
    slot_m = np.arange(n_probes)
    slot_u = np.array([pos_of[int(a)] for a in addr_u])

    base = rng.beta(np.where(rng.random(n_probes) < 0.5, 2.0, 12.0), 6.0)
    idat_dir = os.path.join(out, "idat")
    os.makedirs(idat_dir)
    expected = np.empty((n_samples, n_probes))
    basenames = []
    for k in range(n_samples):
        barcode = f"20437559{1000 + k // 8}"
        basename = f"{barcode}_R0{k % 8 + 1}C01"
        basenames.append(basename)
        beta = np.clip(base + rng.normal(0.0, 0.05, n_probes), 0.0, 1.0)
        total = rng.lognormal(8.0, 0.4, n_probes)
        m_int = np.clip(np.rint(beta * total), 1, 60_000).astype(np.int64)
        u_int = np.clip(np.rint((1.0 - beta) * total), 1, 60_000).astype(np.int64)
        grn = rng.integers(50, 2_000, n_addr)
        red = rng.integers(50, 2_000, n_addr)
        t2 = ~type1
        grn[slot_m[t2]] = m_int[t2]
        red[slot_m[t2]] = u_int[t2]
        for ch, arr in (("Grn", grn), ("Red", red)):
            sel = type1 & (color == ch)
            arr[slot_m[sel]] = m_int[sel]
            arr[slot_u[sel]] = u_int[sel]
        expected[k] = m_int / (m_int + u_int + 100.0)
        for ch, arr in (("Grn", grn), ("Red", red)):
            blob = encode_idat(addresses, arr, barcode, f"R0{k % 8 + 1}C01")
            with open(os.path.join(idat_dir, f"{basename}_{ch}.idat"), "wb") as fh:
                fh.write(blob)
    _write_parquet(
        pa.table({
            "probe_id": probe_ids,
            "design_type": np.where(type1, "I", "II"),
            "color": pa.array(color.tolist(), pa.string()),
            "address_m": addr_m.astype(np.int64),
            "address_u": addr_u.astype(np.int64),
        }),
        os.path.join(out, "manifest.parquet"),
    )
    np.save(os.path.join(out, "expected_beta.npy"), expected)
    return {
        "input_rows": n_samples * n_probes,
        "basenames": basenames,
        "probe_ids": probe_ids.tolist(),
    }


# -------------------------------------------------------------- corpus_curate


def _vocab(rng: np.random.Generator, n: int, letters: str) -> np.ndarray:
    """``n`` distinct random words, none of them a stopword, so only the
    stopwords a document is given count as its stopword hits."""
    chars = np.array(list(letters))
    words = set()
    while len(words) < n:
        ln = int(rng.integers(3, 10))
        w = "".join(rng.choice(chars, ln))
        if w not in STOPWORDS:
            words.add(w)
    return np.array(sorted(words))


def gen_corpus_curate(out: str, seed: int, n_docs: int, n_sources: int, n_eval: int) -> dict:
    """Documents of 40-400 words across ``n_sources`` sources.

    Planted truth: exact duplicates (some differing only in case or
    whitespace), pairs identical except for the PII they carry, documents
    sharing a word 5-gram with the evaluation set, PII strings, and
    repetitive, boilerplate, too-short or stopword-free documents that the
    quality gate rejects. Eval-set words come from a vocabulary disjoint
    from the corpus's, so only planted 5-grams overlap."""
    rng = _rng("corpus_curate", seed)
    vocab = _vocab(rng, 4000, "abcdefghijklmnop")
    eval_vocab = _vocab(rng, 1000, "qrstuvwxyz")
    stop = np.array(STOPWORDS)

    def body(n_words: int) -> list[str]:
        toks = rng.choice(vocab, n_words)
        is_stop = rng.random(n_words) < 0.15
        is_stop[0] = True
        toks[is_stop] = rng.choice(stop, int(is_stop.sum()))
        return toks.tolist()

    eval_docs = [rng.choice(eval_vocab, int(rng.integers(30, 80))).tolist() for _ in range(n_eval)]

    def pii(kind: int) -> str:
        if kind == 0:
            return f"{rng.choice(vocab)}.{rng.choice(vocab)}@{rng.choice(vocab)}.com"
        if kind == 1:
            return ".".join(str(int(x)) for x in rng.integers(1, 255, 4))
        return "-".join(str(int(x)) for x in (rng.integers(200, 999), rng.integers(100, 999), rng.integers(1000, 9999)))

    texts: list[str] = [""] * n_docs
    family = np.arange(n_docs)
    gate_pass = np.ones(n_docs, bool)
    contaminated = np.zeros(n_docs, bool)
    role = rng.choice(
        ["clean", "reject", "contam", "pii", "pii_pair", "dup"],
        n_docs,
        p=[0.825, 0.05, 0.03, 0.02, 0.005, 0.07],
    )
    # each pii_pair doc gets a partner that differs only in its PII values:
    # identical once redacted, so exact dedup must keep the smaller id
    pairs = np.flatnonzero(role == "pii_pair")
    partners = rng.choice(np.flatnonzero(role == "clean"), len(pairs), replace=False)
    role[partners] = "partner"
    partner_of = dict(zip(pairs.tolist(), partners.tolist()))
    originals: list[int] = []
    for d in rng.permutation(n_docs).tolist():  # roles land on random ids
        r = role[d]
        if r == "partner":
            continue
        if r == "dup" and originals:
            src = originals[int(rng.integers(len(originals)))]
            variant = int(rng.integers(3))
            texts[d] = [texts[src], texts[src].upper(), texts[src].replace(" ", "  ")][variant]
            family[d], gate_pass[d], contaminated[d] = family[src], gate_pass[src], contaminated[src]
            continue
        words = body(int(rng.integers(40, 401)))
        if r == "reject":
            kind = int(rng.integers(4))
            if kind == 0:  # repetitive
                words = [str(rng.choice(vocab))] * int(rng.integers(40, 120))
            elif kind == 1:  # boilerplate: low type-token ratio
                words = "click here to subscribe".split() * int(rng.integers(10, 30))
            elif kind == 2:  # too short
                words = words[: int(rng.integers(3, 9))]
            else:  # no stopwords
                words = rng.choice(vocab, int(rng.integers(40, 200))).tolist()
            gate_pass[d] = False
        elif r == "contam":
            ev = eval_docs[int(rng.integers(n_eval))]
            at = int(rng.integers(len(ev) - 4))
            pos = int(rng.integers(1, len(words)))
            words = words[:pos] + ev[at : at + 5] + words[pos:]
            contaminated[d] = True
        elif r in ("pii", "pii_pair"):
            for _ in range(int(rng.integers(1, 4))):
                words.insert(int(rng.integers(1, len(words))), int(rng.integers(3)))
        texts[d] = " ".join(pii(w) if isinstance(w, int) else w for w in words)
        if r == "pii_pair":
            p = partner_of[d]
            texts[p] = " ".join(pii(w) if isinstance(w, int) else w for w in words)
            family[p] = family[d]
        originals.append(d)

    sources = rng.integers(0, n_sources, n_docs)
    doc_ids = np.arange(n_docs, dtype=np.int64)
    os.makedirs(os.path.join(out, "docs"))
    text_arr = np.array(texts, dtype=object)
    for s in range(n_sources):
        sel = sources == s
        _write_parquet(
            pa.table({
                "doc_id": doc_ids[sel],
                "source": pa.array([f"src{s}"] * int(sel.sum()), pa.string()),
                "text": pa.array(text_arr[sel].tolist(), pa.string()),
            }),
            os.path.join(out, "docs", f"part-{s}.parquet"),
        )
    _write_parquet(
        pa.table({
            "doc_id": np.arange(n_eval, dtype=np.int64),
            "text": [" ".join(e) for e in eval_docs],
        }),
        os.path.join(out, "eval.parquet"),
    )

    keep = gate_pass & ~contaminated
    survivors = sorted(
        int(min(doc_ids[keep & (family == f)])) for f in np.unique(family[keep])
    )
    return {
        "input_rows": n_docs,
        "survivors": survivors,
        "n_gate_rejects": int((~gate_pass).sum()),
        "n_contaminated": int(contaminated.sum()),
    }


GENERATORS = {
    "epic_cohort": gen_epic_cohort,
    "idat_ingest": gen_idat_ingest,
    "corpus_curate": gen_corpus_curate,
}


def inputs(work_dir: str, workload: str, seed: int, shape: dict | None = None) -> tuple[str, dict]:
    """Return ``(directory, truth)`` for the workload's inputs, generating
    them on first use. Only the most recent (seed, shape) per workload is
    kept, so the cache stays one input set deep."""
    shape = dict(SHAPES[workload] if shape is None else shape)
    with open(__file__, "rb") as fh:  # a changed generator invalidates the cache
        source = fh.read()
    key = hashlib.sha256(json.dumps(shape, sort_keys=True).encode() + source).hexdigest()[:10]
    root = os.path.join(work_dir, "inputs", workload)
    path = os.path.join(root, f"{key}-seed{seed}")
    truth_path = os.path.join(path, "truth.json")
    if not os.path.exists(truth_path):
        if os.path.isdir(root):
            shutil.rmtree(root)
        os.makedirs(path)
        truth = GENERATORS[workload](path, seed, **shape)
        _write_json(truth, truth_path + ".tmp")
        os.replace(truth_path + ".tmp", truth_path)
    with open(truth_path) as fh:
        return path, json.load(fh)
