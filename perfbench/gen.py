"""Seeded input generator for the benchmark workloads.

Imports nothing from the library: inputs are written with numpy, pyarrow,
``zlib`` (BGZF blocks of the BAM) and plain VCF text, so the program under
test sees only files.  Every function is deterministic in ``(seed, label)``:
``label`` names the shard (``warmup``, ``p000``, ``check`` ...) and is part
of both the random stream and the file name, so each pass reads its own
distinctly named input while the same seed always rebuilds the same bytes.

Reference-side tables (the target intervals, the VEP cache) are fixed per
seed and shared by all passes, as they are in real use.
"""

from __future__ import annotations

import os
import struct
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: hg38 primary contigs with their lengths in bp (chrM at full length).
HG38 = [
    ("chr1", 248_956_422), ("chr2", 242_193_529), ("chr3", 198_295_559),
    ("chr4", 190_214_555), ("chr5", 181_538_259), ("chr6", 170_805_979),
    ("chr7", 159_345_973), ("chr8", 145_138_636), ("chr9", 138_394_717),
    ("chr10", 133_797_422), ("chr11", 135_086_622), ("chr12", 133_275_309),
    ("chr13", 114_364_328), ("chr14", 107_043_718), ("chr15", 101_991_189),
    ("chr16", 90_338_345), ("chr17", 83_257_441), ("chr18", 80_373_285),
    ("chr19", 58_617_616), ("chr20", 64_444_167), ("chr21", 46_709_983),
    ("chr22", 50_818_468), ("chrX", 156_040_895), ("chrY", 57_227_415),
    ("chrM", 16_569),
]

# Input sizes.  The engine thresholds the shards are compared against are
# listed in THRESHOLDS; the manifest records each shard beside them.
RANGES_READS = 50_000
RANGES_TARGETS = 5_000
RANGES_SCALE = 100          # ranges genome = hg38 / 100 (31 Mb)
PILEUP_RECORDS = 20_000
PILEUP_SCALE = 10_000       # pileup genome = hg38 / 10000, ~9x mean depth
PILEUP_READ_LEN = 150
VEP_VARIANTS = 1_000
VEP_CACHE = 20_000
VEP_TRANSCRIPTS = 5_000
VEP_SCALE = 100
VEP_KNOWN_FRAC = 0.40
DEDUP_DOCS = 5_000
DEDUP_VECTORS = 2_000
DEDUP_QUERIES = 100         # top-k query vectors, a subset of the corpus
DIM = 64

THRESHOLDS = {
    "autoBroadcastJoinThreshold_bytes": 64 * 1024 * 1024,
    "arrow_maxRecordsPerBatch_rows": 131_072,
    "aqe_coalesce_minPartitionSize_bytes": 1024 * 1024,
    "BROADCAST_GUARD_ROWS": 8_000_000,
}


def rng_for(seed: int, *label: str) -> np.random.Generator:
    """Independent stream per (seed, label...) — stable across runs."""
    key = [seed] + [zlib.crc32(s.encode()) for s in label]
    return np.random.default_rng(key)


def scaled_genome(scale: int) -> list[tuple[str, int]]:
    return [(c, n if c == "chrM" else max(n // scale, 20_000)) for c, n in HG38]


def _draw_contigs(rng, genome, n, chrm_share=0.0):
    lens = np.array([n_ for _, n_ in genome], dtype=np.float64)
    w = lens / lens.sum()
    if chrm_share:
        w[-1] = chrm_share
        w[:-1] *= (1.0 - chrm_share) / w[:-1].sum()
    return rng.choice(len(genome), size=n, p=w)


def _heavy_widths(rng, n, median, tail_frac=0.02, tail_min=10_000, cap=200_000):
    """Lognormal body plus ``tail_frac`` Pareto tail above ``tail_min``."""
    w = np.clip(rng.lognormal(np.log(median), 0.7, n), 20, tail_min - 1)
    tail = rng.random(n) < tail_frac
    w[tail] = np.minimum(tail_min + (rng.pareto(1.5, tail.sum()) * 5_000), cap)
    return w.astype(np.int64)


def _intervals(rng, genome, n, median, tail_frac):
    ci = _draw_contigs(rng, genome, n)
    lens = np.array([n_ for _, n_ in genome], dtype=np.int64)[ci]
    w = np.minimum(_heavy_widths(rng, n, median, tail_frac), lens - 1)
    start = 1 + (rng.random(n) * (lens - w)).astype(np.int64)
    names = np.array([c for c, _ in genome], dtype=object)[ci]
    order = np.lexsort((start, ci))
    return pa.table({
        "contig": pa.array(names[order], pa.string()),
        "pos_start": pa.array(start[order], pa.int64()),
        "pos_end": pa.array((start + w)[order], pa.int64()),
    })


@dataclass
class Shard:
    """One generated input: its files, record count and on-disk bytes."""

    label: str
    files: dict
    records: int
    truth: str | None = None  # generator's own record of the content

    @property
    def nbytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.files.values())


# ----------------------------------------------------------------- ranges

def ranges_reference(root: str, seed: int) -> Shard:
    rng = rng_for(seed, "ranges", "targets")
    t = _intervals(rng, scaled_genome(RANGES_SCALE), RANGES_TARGETS, 400, 0.0)
    path = os.path.join(root, "targets.parquet")
    pq.write_table(t, path)
    return Shard("targets", {"targets": path}, t.num_rows)


def ranges_shard(root: str, seed: int, label: str) -> Shard:
    """Reads of a sample without chrY, against targets on every contig.
    The chrY targets then have no read in reach, so every pass runs
    nearest's exact fallback for them; with chrY reads, whether some target
    had none in reach would be a coin toss per shard, and the pass wall
    would be bimodal across seeds."""
    rng = rng_for(seed, "ranges", label)
    genome = [g for g in scaled_genome(RANGES_SCALE) if g[0] != "chrY"]
    t = _intervals(rng, genome, RANGES_READS, 300, 0.02)
    path = os.path.join(root, f"reads-{label}.parquet")
    pq.write_table(t, path)
    return Shard(label, {"reads": path}, t.num_rows)


# ----------------------------------------------------------------- pileup

_CIG = {c: i for i, c in enumerate("MIDNSHP=X")}
_EOF = bytes.fromhex("1f8b08040000000000ff0600424302001b0003000000000000000000")


def _reg2bin(beg, end):
    """SAM spec §5.3 bin of the 0-based half-open [beg, end), vectorized."""
    end = end - 1
    out = np.zeros(len(beg), dtype=np.int64)
    done = np.zeros(len(beg), dtype=bool)
    for shift, off in ((14, 4681), (17, 585), (20, 73), (23, 9), (26, 1)):
        hit = ~done & ((beg >> shift) == (end >> shift))
        out[hit] = off + (beg[hit] >> shift)
        done |= hit
    return out


def _bgzf(data: bytes, level: int = 1) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 0xFF00):
        chunk = data[i : i + 0xFF00]
        co = zlib.compressobj(level, zlib.DEFLATED, -15)
        comp = co.compress(chunk) + co.flush()
        out += struct.pack(
            "<4BI2BH2B2H", 0x1F, 0x8B, 8, 4, 0, 0, 0xFF, 6, 66, 67, 2, len(comp) + 25
        )
        out += comp
        out += struct.pack("<II", zlib.crc32(chunk) & 0xFFFFFFFF, len(chunk))
    return bytes(out + _EOF)


def _cigars(rng, n, read_len):
    """Per-record list of (len, op) runs; ~15% complex (S/I/D/N)."""
    kind = rng.choice(5, size=n, p=[0.85, 0.04, 0.04, 0.04, 0.03])
    a = rng.integers(20, read_len - 20, n)
    k = rng.integers(1, 6, n)
    gap = rng.integers(200, 3_000, n)
    out = []
    for i in range(n):
        ai, ki = int(a[i]), int(k[i])
        if kind[i] == 0:
            out.append(((read_len, "M"),))
        elif kind[i] == 1:
            out.append(((ki * 3, "S"), (read_len - ki * 3, "M")))
        elif kind[i] == 2:
            out.append(((ai, "M"), (ki, "I"), (read_len - ai - ki, "M")))
        elif kind[i] == 3:
            out.append(((ai, "M"), (ki, "D"), (read_len - ai, "M")))
        else:
            out.append(((ai, "M"), (int(gap[i]), "N"), (read_len - ai, "M")))
    return out


def pileup_shard(root: str, seed: int, label: str) -> Shard:
    """One coordinate-sorted BAM plus the record list it holds."""
    rng = rng_for(seed, "pileup", label)
    genome = scaled_genome(PILEUP_SCALE)
    n, rl = PILEUP_RECORDS, PILEUP_READ_LEN
    ci = _draw_contigs(rng, genome, n, chrm_share=0.01)
    lens = np.array([g for _, g in genome], dtype=np.int64)
    cig = _cigars(rng, n, rl)
    span = np.array([sum(l for l, op in c if op in "MDN=X") for c in cig], np.int64)
    pos0 = (rng.random(n) * np.maximum(lens[ci] - span, 1)).astype(np.int64)
    flags = np.where(rng.random(n) < 0.5, 16, 0)
    flags = flags | np.where(rng.random(n) < 0.03, 1024, 0)
    mapq = rng.integers(0, 61, n)
    order = np.lexsort((pos0, ci))
    ci, pos0, flags, mapq, span = ci[order], pos0[order], flags[order], mapq[order], span[order]
    cig = [cig[i] for i in order]
    bins = _reg2bin(pos0, pos0 + span)

    text = b"@HD\tVN:1.6\tSO:coordinate\n" + b"".join(
        b"@SQ\tSN:%s\tLN:%d\n" % (c.encode(), ln) for c, ln in genome
    )
    head = [b"BAM\x01", struct.pack("<i", len(text)), text, struct.pack("<i", len(genome))]
    for c, ln in genome:
        head.append(struct.pack("<i", len(c) + 1) + c.encode() + b"\0" + struct.pack("<i", ln))
    # read bases: 4-bit codes of ACGT (1,2,4,8) packed two per byte; a shared
    # random pool sliced per record keeps generation vectorized
    codes = np.array([1, 2, 4, 8], dtype=np.uint8)
    pool = rng.integers(0, 4, 1 << 16)
    packed = ((codes[pool[0::2]] << 4) | codes[pool[1::2]]).astype(np.uint8).tobytes()
    qual = bytes([30]) * rl
    seq_bytes = (rl + 1) // 2
    offs = rng.integers(0, len(packed) - seq_bytes, n)
    recs = []
    cigar_strs = []
    for i in range(n):
        name = b"r%s%08d\0" % (label.encode(), i)
        ops = cig[i]
        cigar_strs.append("".join(f"{l}{op}" for l, op in ops))
        body = struct.pack(
            "<iiBBHHHiiii", int(ci[i]), int(pos0[i]), len(name), int(mapq[i]),
            int(bins[i]), len(ops), int(flags[i]), rl, -1, -1, 0,
        ) + name + struct.pack("<%dI" % len(ops), *[(l << 4) | _CIG[op] for l, op in ops])
        o = int(offs[i])
        body += packed[o : o + seq_bytes] + qual
        recs.append(struct.pack("<i", len(body)) + body)
    path = os.path.join(root, f"aln-{label}.bam")
    with open(path, "wb") as f:
        f.write(_bgzf(b"".join(head) + b"".join(recs)))
    names = np.array([c for c, _ in genome], dtype=object)
    truth = pa.table({
        "chrom": pa.array(names[ci], pa.string()),
        "start": pa.array(pos0, pa.int64()),
        "flags": pa.array(flags.astype(np.int32), pa.int32()),
        "cigar": pa.array(cigar_strs, pa.string()),
        "mapping_quality": pa.array(mapq.astype(np.int32), pa.int32()),
    })
    tpath = os.path.join(root, f"aln-{label}.truth.parquet")
    pq.write_table(truth, tpath)
    shard = Shard(label, {"bam": path}, n)
    shard.truth = tpath
    return shard


# -------------------------------------------------------------------- vep

_BASES = np.array(list("ACGT"))


def _vep_genome():
    return [g for g in scaled_genome(VEP_SCALE) if g[0] not in ("chrY", "chrM")]


def _random_alleles(rng, n):
    """~80% SNVs, ~20% short indels (1-4 bp), VCF form with anchor base."""
    ref0 = _BASES[rng.integers(0, 4, n)]
    alt_snv = _BASES[(np.searchsorted(_BASES, ref0) + rng.integers(1, 4, n)) % 4]
    kind = rng.choice(3, size=n, p=[0.8, 0.1, 0.1])  # snv, deletion, insertion
    ilen = rng.integers(1, 5, n)
    ref, alt = [], []
    for i in range(n):
        extra = "".join(_BASES[rng.integers(0, 4, int(ilen[i]))])
        if kind[i] == 0:
            ref.append(ref0[i]); alt.append(alt_snv[i])
        elif kind[i] == 1:
            ref.append(ref0[i] + extra); alt.append(ref0[i])
        else:
            ref.append(ref0[i]); alt.append(ref0[i] + extra)
    return np.array(ref, dtype=object), np.array(alt, dtype=object)


def _vep_norm(pos, ref, alt):
    """VEP cache coordinates and allele string of VCF-form alleles: drop the
    shared first base of an indel (start shifts by one; an insertion gets
    start = end + 1)."""
    starts, ends, alleles = [], [], []
    for p, r, a in zip(pos, ref, alt):
        if len(r) == 1 and len(a) == 1:
            starts.append(p); ends.append(p); alleles.append(f"{r}/{a}")
        else:
            r2, a2 = r[1:] or "-", a[1:] or "-"
            s = p + 1
            e = s + len(r) - 2
            starts.append(s); ends.append(e); alleles.append(f"{r2}/{a2}")
    return np.array(starts, np.int64), np.array(ends, np.int64), np.array(alleles, dtype=object)


def _vep_sites(rng, n):
    genome = _vep_genome()
    ci = _draw_contigs(rng, genome, n)
    lens = np.array([g for _, g in genome], dtype=np.int64)[ci]
    pos = 1 + (rng.random(n) * (lens - 10)).astype(np.int64)
    names = np.array([c for c, _ in genome], dtype=object)[ci]
    return names, pos


def _transcripts(rng):
    """Fixed transcripts on the geometry the repository's annotate_vep
    oracle template spells out: [s, s+600] with exons [s, s+250] and
    [s+350, s+600], CDS [s+100, s+500], either strand, 80% protein coding."""
    n = VEP_TRANSCRIPTS
    chrom, start = _vep_sites(rng, n)
    ids = np.array([f"TX{i:05d}" for i in range(n)], dtype=object)
    tx = pa.table({
        "transcript_id": pa.array(ids, pa.string()),
        "chrom": pa.array(chrom, pa.string()),
        "start": pa.array(start, pa.int64()),
        "end": pa.array(start + 600, pa.int64()),
        "strand": pa.array(np.where(rng.random(n) < 0.5, 1, -1).astype(np.int32)),
        "biotype": pa.array(np.where(rng.random(n) < 0.8, "protein_coding", "lincRNA"),
                            pa.string()),
        "gene_stable_id": pa.array([f"G{i:05d}" for i in range(n)], pa.string()),
        "gene_symbol": pa.array([f"GENE{i}" for i in range(n)], pa.string()),
        "cds_start": pa.array(start + 100, pa.int64()),
        "cds_end": pa.array(start + 500, pa.int64()),
    })
    exons = pa.table({
        "transcript_id": pa.array(np.concatenate([ids, ids]), pa.string()),
        "start": pa.array(np.concatenate([start, start + 350]), pa.int64()),
        "end": pa.array(np.concatenate([start + 250, start + 600]), pa.int64()),
    })
    return tx, exons


def vep_reference(root: str, seed: int) -> Shard:
    """Fixed VEP cache of known variants and its VCF-form copy that passes
    draw their known variants from, plus the fixed transcripts and exons."""
    rng = rng_for(seed, "vep", "cache")
    chrom, pos = _vep_sites(rng, VEP_CACHE)
    ref, alt = _random_alleles(rng, VEP_CACHE)
    s, e, allele = _vep_norm(pos, ref, alt)
    clin = rng.choice(np.array(["benign", "pathogenic", None], dtype=object), VEP_CACHE)
    cache = pa.table({
        "chrom": pa.array(chrom, pa.string()),
        "start": pa.array(s, pa.int64()),
        "end": pa.array(e, pa.int64()),
        "variation_name": pa.array([f"rs{i + 1}" for i in range(VEP_CACHE)], pa.string()),
        "allele_string": pa.array(allele, pa.string()),
        "clin_sig": pa.array(clin, pa.string()),
    })
    # VCF-form copy of the cache, so passes can draw known variants from it
    known = pa.table({
        "chrom": pa.array(chrom, pa.string()), "pos": pa.array(pos, pa.int64()),
        "ref": pa.array(ref, pa.string()), "alt": pa.array(alt, pa.string()),
    })
    tx, exons = _transcripts(rng_for(seed, "vep", "transcripts"))
    files = {}
    for name, t in (("cache", cache), ("known", known), ("transcripts", tx), ("exons", exons)):
        files[name] = os.path.join(root, f"{name}.parquet")
        pq.write_table(t, files[name])
    return Shard("reference", files, VEP_CACHE)


def vep_shard(root: str, seed: int, label: str, known: pa.Table) -> Shard:
    """One VCF text file: ~40% of rows drawn from the cache, the rest novel."""
    rng = rng_for(seed, "vep", label)
    n = VEP_VARIANTS
    n_known = int(n * VEP_KNOWN_FRAC)
    pick = rng.choice(known.num_rows, n_known, replace=False)
    k = known.take(pa.array(pick))
    chrom, pos = _vep_sites(rng, n - n_known)
    ref, alt = _random_alleles(rng, n - n_known)
    chrom = np.concatenate([k["chrom"].to_numpy(zero_copy_only=False), chrom])
    pos = np.concatenate([k["pos"].to_numpy(), pos])
    ref = np.concatenate([k["ref"].to_numpy(zero_copy_only=False), ref])
    alt = np.concatenate([k["alt"].to_numpy(zero_copy_only=False), alt])
    contig_rank = {c: i for i, (c, _) in enumerate(_vep_genome())}
    order = np.lexsort((pos, np.array([contig_rank[c] for c in chrom])))
    # one row per site: VEP annotates per (chrom, pos, ref, alt); duplicate
    # keys would only duplicate output rows
    seen = set()
    lines = [
        "##fileformat=VCFv4.2",
        *[f"##contig=<ID={c},length={ln}>" for c, ln in _vep_genome()],
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
    ]
    rows = 0
    for i in order:
        key = (chrom[i], int(pos[i]), ref[i], alt[i])
        if key in seen:
            continue
        seen.add(key)
        lines.append(f"{chrom[i]}\t{pos[i]}\t.\t{ref[i]}\t{alt[i]}\t50\tPASS\t.")
        rows += 1
    path = os.path.join(root, f"calls-{label}.vcf")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return Shard(label, {"vcf": path}, rows)


# ------------------------------------------------------------------ dedup

def _vocab(rng):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(2, 10, 5_000)
    return np.array(["".join(letters[rng.integers(0, 26, int(l))]) for l in lens], dtype=object)


def dedup_shard(root: str, seed: int, label: str) -> Shard:
    """Documents (~300 chars, ~15% near-duplicates, a few exact copies) and
    64-d vectors (~10% in one tight cluster, ~5% near-duplicate pairs)."""
    rng = rng_for(seed, "dedup", label)
    vocab = _vocab(rng_for(seed, "dedup", "vocab"))
    n = DEDUP_DOCS
    zipf = np.minimum(rng.zipf(1.3, size=n * 60), len(vocab)) - 1
    texts, cur = [], 0
    for _ in range(n):
        words = []
        size = 0
        while size < 300:
            w = vocab[zipf[cur % len(zipf)]]
            cur += 1
            words.append(w)
            size += len(w) + 1
        texts.append(" ".join(words))
    # near-duplicates: copy an earlier doc and change one word; a third of
    # them are exact copies, so exact_dedup has groups to collapse
    dup = rng.random(n) < 0.15
    dup[:100] = False
    src = (rng.random(n) * np.arange(n)).astype(np.int64)
    for i in np.nonzero(dup)[0]:
        s = int(src[i])
        while dup[s] and s > 0:
            s = int(src[s])
        t = texts[s].split(" ")
        if rng.random() < 0.67:
            j = int(rng.integers(0, len(t)))
            t[j] = t[j] + "x"
        texts[i] = " ".join(t)
    doc_ids = np.arange(n, dtype=np.int64)
    docs = pa.table({"doc_id": pa.array(doc_ids), "text": pa.array(texts, pa.string())})

    m = DEDUP_VECTORS
    # clustered corpus: 200 background clusters plus one hot cluster holding
    # ~10% of the vectors (one LSH bucket / IVF list runs hot); cluster mates
    # sit near cos 0.75, planted near-duplicates above 0.99
    centers = rng.standard_normal((201, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cid = rng.integers(0, 200, m)
    cid[rng.random(m) < 0.10] = 200
    vec = centers[cid] + rng.standard_normal((m, DIM)) * 0.065
    near = np.nonzero(rng.random(m) < 0.05)[0]
    near = near[near > 0]
    vsrc = (rng.random(len(near)) * near).astype(np.int64)
    ok = ~np.isin(vsrc, near)
    near, vsrc = near[ok], vsrc[ok]
    vec[near] = vec[vsrc] + rng.standard_normal((len(near), DIM)) * 0.005
    vectors = pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float64())),
    })
    files = {
        "docs": os.path.join(root, f"docs-{label}.parquet"),
        "vectors": os.path.join(root, f"vectors-{label}.parquet"),
    }
    pq.write_table(docs, files["docs"])
    pq.write_table(vectors, files["vectors"])
    return Shard(label, files, n + m)


# --------------------------------------------------------------- manifest

def _vs_thresholds(records: int, nbytes: int) -> dict:
    t = THRESHOLDS
    return {
        "bytes_over_autoBroadcastJoinThreshold": nbytes / t["autoBroadcastJoinThreshold_bytes"],
        "records_over_arrow_batch": records / t["arrow_maxRecordsPerBatch_rows"],
        "bytes_over_aqe_coalesce_floor": nbytes / t["aqe_coalesce_minPartitionSize_bytes"],
        "records_over_BROADCAST_GUARD_ROWS": records / t["BROADCAST_GUARD_ROWS"],
    }


def shard_manifest(shard: Shard) -> dict:
    """Record count and on-disk bytes of a shard next to the engine
    thresholds they decide (ratios above 1 cross the threshold)."""
    return {"shard": shard.label, "files": sorted(os.path.basename(p) for p in shard.files.values()),
            "records": shard.records, "bytes": shard.nbytes,
            **_vs_thresholds(shard.records, shard.nbytes)}


def reference_manifest(group) -> dict:
    ref = group.reference
    if ref is None:
        return {"group": group.name, "reference": None}
    return {"group": group.name, **shard_manifest(ref)}
