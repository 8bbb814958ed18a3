"""Transcript consequence engine (phase B of ``annotate_vep``).

Pure-Python re-expression of the reference's consequence assignment
(``bio-function-vep/src/transcript_consequence.rs:801-1124``; SO term
registry + severity ranks ``so_terms.rs:5-299``; HGVS notation
``hgvs.rs:17-45``).  All rules follow the *published* Ensembl VEP / Sequence
Ontology definitions; nothing here executes on the driver — the library is
invoked row-wise inside Arrow-batched pandas UDFs (``operators.vep``), so it
must stay dependency-free and picklable by value.

Scope notes vs the reference:

* splice terms: acceptor/donor (±1-2 intronic), donor 5th base, donor
  region (intronic 3-6), splice region (3-8 intronic / 1-3 exonic),
  polypyrimidine tract (3-17 intronic of the acceptor side, intronic
  variants only) — VEP's exact windows including the insertion
  point-rules, frameshift-intron (≤13 bp) skips, and parent-term
  stripping; behavior pinned by ``tests/test_consequence_parity.py``.
* coding terms are codon-accurate for SNVs/MNVs and for indels
  (``classify_coding_indel``: rendered codons/amino acids, stop-retained
  frameshift reclassification, inframe-insertion peptide containment);
  without sequence context VEP's positional start/stop heuristics apply
  and everything else degrades to ``coding_sequence_variant``, exactly
  like VEP.  The FULL edited-RefSeq coordinate model is implemented
  (round 6): cached TranscriptMapper segments as the authoritative
  genomic↔cDNA converter under the single-mapper rule
  (``use_cdna_mapper_for_general_coords``), mapper-gap deleted-base
  resolution, ``_rna_edit`` numbering offsets in both mapper and
  sequence space, edited-transcript reference precedence (USED_REF),
  failed-BAM-edit cached-translation precedence, and the
  transcript-sequence 3'-shift machinery — pinned by the
  ``tests/test_mapper_parity.py`` battery.  The shifted-insertion
  equal-window dispatch (protein_hgvs_for_output, rs:4807-5010) is
  wired: edited-RefSeq shifted insertions reclassify, run the
  equal-window attempts, and collapse repeat-absorbed insertions to
  the silent ``p.<Ref><N>=`` form at EXACT VEP parity (p.GluGlu25=
  on NM_015120 — the round-8 "one residue narrower" delta was a test
  fixture missing a GAG codon, closed in round 9 together with the
  classification-side RefSeq misalignment adjust below).
  Remaining documented tail: selenocysteine recoding (the reference
  only maps the U->Sec letter, which AA3 also carries).
* HGVS: ``g.`` always; ``c.`` with 3'-shifting + dup detection and
  UTR/intronic ``c.-N`` / ``c.*N`` / ``c.N±off`` coordinates, routed
  through the mapper-aware pipeline on live RefSeq rows; ``p.``
  substitutions, inframe del/ins/delins, frameshift ``fsTer#`` and
  stop-lost ``extTer#`` when CDS context is available, prefixed with
  the translation stable id when cached.  Both notations also consume
  an externally computed genomic 3'-shift (``HgvsShift``; VEP derives
  it from the reference FASTA): ``hgvs_c(shift=...)`` renders the
  shifted variant with flank-context dup detection, shifted-span
  suppression, and the failed-BAM-edit allele-match gate;
  ``protein_hgvs_for_output`` replays the shifted variant through the
  coding-terms/star-equal gates.  The reference's ``format_hgvsp``
  notation pipeline (clip → peptide 3'-shift → duplication →
  flanking → render, incl. ``resolve_frameshift_hgvs``) is ported as
  a standalone :class:`ProteinHgvs` formatter
  (tests/test_hgvsp_formatter_parity.py).
"""

from __future__ import annotations

import re
import sys
from dataclasses import dataclass, field

# UDF-side importability: serialize by value (see functions.alleles).
try:  # pragma: no cover - environment dependent
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover
    pass

# ---------------------------------------------------------------------------
# SO term registry — severity rank 1..41 + impact (reference so_terms.rs:5-299;
# public VEP "consequence severity" ordering)
# ---------------------------------------------------------------------------

SO_TERMS_BY_RANK: list[tuple[str, str]] = [
    ("transcript_ablation", "HIGH"),
    ("splice_acceptor_variant", "HIGH"),
    ("splice_donor_variant", "HIGH"),
    ("stop_gained", "HIGH"),
    ("frameshift_variant", "HIGH"),
    ("stop_lost", "HIGH"),
    ("start_lost", "HIGH"),
    ("transcript_amplification", "HIGH"),
    ("feature_elongation", "HIGH"),
    ("feature_truncation", "HIGH"),
    ("inframe_insertion", "MODERATE"),
    ("inframe_deletion", "MODERATE"),
    ("missense_variant", "MODERATE"),
    ("protein_altering_variant", "MODERATE"),
    ("splice_donor_5th_base_variant", "LOW"),
    ("splice_region_variant", "LOW"),
    ("splice_donor_region_variant", "LOW"),
    ("splice_polypyrimidine_tract_variant", "LOW"),
    ("incomplete_terminal_codon_variant", "LOW"),
    ("start_retained_variant", "LOW"),
    ("stop_retained_variant", "LOW"),
    ("synonymous_variant", "LOW"),
    ("coding_sequence_variant", "MODIFIER"),
    ("mature_miRNA_variant", "MODIFIER"),
    ("5_prime_UTR_variant", "MODIFIER"),
    ("3_prime_UTR_variant", "MODIFIER"),
    ("non_coding_transcript_exon_variant", "MODIFIER"),
    ("intron_variant", "MODIFIER"),
    ("NMD_transcript_variant", "MODIFIER"),
    ("non_coding_transcript_variant", "MODIFIER"),
    ("coding_transcript_variant", "MODIFIER"),
    ("upstream_gene_variant", "MODIFIER"),
    ("downstream_gene_variant", "MODIFIER"),
    # TFBS_ablation is MODERATE in the reference's SO table (so_terms.rs
    # impact(): TfbsAblation => Moderate — VEP 115's calibration);
    # TFBS_amplification stays MODIFIER (round-11 grid-7 SV arm)
    ("TFBS_ablation", "MODERATE"),
    ("TFBS_amplification", "MODIFIER"),
    ("TF_binding_site_variant", "MODIFIER"),
    ("regulatory_region_ablation", "MODIFIER"),
    ("regulatory_region_amplification", "MODIFIER"),
    ("regulatory_region_variant", "MODIFIER"),
    ("intergenic_variant", "MODIFIER"),
    ("sequence_variant", "MODIFIER"),
]

SO_RANK: dict[str, int] = {t: i + 1 for i, (t, _) in enumerate(SO_TERMS_BY_RANK)}
SO_IMPACT: dict[str, str] = dict(SO_TERMS_BY_RANK)


def most_severe(terms: list[str]) -> str | None:
    """Collapse a term list to the most severe one (lowest rank; reference
    ``transcript_consequence.rs:1124``)."""
    best, best_rank = None, 10**9
    for t in terms:
        r = SO_RANK.get(t, 10**9)
        if r < best_rank:
            best, best_rank = t, r
    return best


# ---------------------------------------------------------------------------
# genetic code
# ---------------------------------------------------------------------------

_BASES = "TCAG"
_AMINO = (
    "FFLLSSSSYY**CC*W"  # TTT..TGG
    "LLLLPPPPHHQQRRRR"
    "IIIMTTTTNNKKSSRR"
    "VVVVAAAADDEEGGGG"
)
CODON_TABLE: dict[str, str] = {
    a + b + c: _AMINO[i * 16 + j * 4 + k]
    for i, a in enumerate(_BASES)
    for j, b in enumerate(_BASES)
    for k, c in enumerate(_BASES)
}
_COMP = str.maketrans("ACGTNacgtn", "TGCANtgcan")

AA3 = {
    "A": "Ala", "R": "Arg", "N": "Asn", "D": "Asp", "C": "Cys", "Q": "Gln",
    "E": "Glu", "G": "Gly", "H": "His", "I": "Ile", "L": "Leu", "K": "Lys",
    "M": "Met", "F": "Phe", "P": "Pro", "S": "Ser", "T": "Thr", "W": "Trp",
    "Y": "Tyr", "V": "Val", "*": "Ter",
    # extended letters (reference hgvs.rs aa_one_to_three): selenocysteine,
    # pyrrolysine; everything unknown renders Xaa
    "U": "Sec", "O": "Pyl", "X": "Xaa",
}


def versioned_id(base_id: str, version: int | None) -> str:
    """Append ``.version`` only when the stable ID is not already versioned
    (reference ``hgvs.rs`` ``versioned_id`` / Ensembl VEP OutputFactory
    rule): ``ENST...`` + 6 -> ``ENST....6``; ``NM_001206729.2`` stays."""
    import re as _re

    if _re.search(r"\.\d+$", base_id):
        return base_id
    return f"{base_id}.{version}" if version is not None else base_id


def revcomp(seq: str) -> str:
    return seq.translate(_COMP)[::-1]


def translate(cds: str) -> str:
    return "".join(
        CODON_TABLE.get(cds[i : i + 3].upper(), "X") for i in range(0, len(cds) - 2, 3)
    )


# ---------------------------------------------------------------------------
# transcript model
# ---------------------------------------------------------------------------


@dataclass
class MapperSegment:
    """One cached Ensembl TranscriptMapper exon→cDNA segment (reference
    ``TranscriptCdnaMapperSegment``, transcript_consequence.rs:131-137).
    BAM-edited RefSeq transcripts carry an edit-adjusted mapper whose cDNA
    coordinates ALREADY encode every ``_rna_edit`` offset — leading
    insertions shift the first segment's ``cdna_start``, internal deletions
    appear as a genomic gap between adjacent segments."""

    genomic_start: int
    genomic_end: int
    cdna_start: int  # 1-based
    cdna_end: int
    ori: int = 1


@dataclass
class Transcript:
    """Genomic transcript context (1-based closed coordinates).

    ``exons``: genomic (start, end) pairs, any order.  ``cds_start``/
    ``cds_end``: genomic bounds of the coding region (None → non-coding).
    ``cds_sequence``: spliced coding sequence 5'→3' (transcript orientation,
    may carry leading ``N`` phase padding like Ensembl's translateable seq);
    when absent, coding effects degrade to ``coding_sequence_variant`` plus
    the positional start/stop heuristics.  ``mature_mirna_regions``: genomic
    spans of mature miRNA products on a ``miRNA`` transcript.
    """

    transcript_id: str
    chrom: str
    start: int
    end: int
    strand: int  # +1 / -1
    biotype: str = "protein_coding"
    gene_id: str = ""
    gene_symbol: str = ""
    exons: list[tuple[int, int]] = field(default_factory=list)
    cds_start: int | None = None
    cds_end: int | None = None
    cds_sequence: str | None = None
    #: full spliced transcript sequence 5'→3' (Ensembl ``spliced_seq``;
    #: matches the edited transcript cache) — enables the cDNA-space
    #: start/stop checks and 3'UTR extraction
    #: (reference TranscriptFeature.spliced_seq, transcript_consequence.rs:239)
    spliced_seq: str | None = None
    #: cache ``cdna_seq`` — often CDS-only in upstream caches, so it is only
    #: trusted as full cDNA when the coding bounds prove surrounding context
    #: (reference cdna_seq_has_full_transcript_context_for_vep)
    cdna_seq: str | None = None
    #: cached raw 3'UTR sequence (preferred over derivation when present)
    three_prime_utr_seq: str | None = None
    #: 1-based coding bounds within the spliced transcript
    cdna_coding_start: int | None = None
    cdna_coding_end: int | None = None
    is_canonical: bool = False
    #: incomplete-CDS flags (Ensembl cds_start_NF / cds_end_NF): drive the
    #: FLAGS column and the "?-N" unknown-start coordinate format
    cds_start_nf: bool = False
    cds_end_nf: bool = False
    #: RefSeq ``_rna_edit`` attributes in transcript (cDNA) coordinates:
    #: where the RefSeq mRNA differs from the genome.  Only the cDNA
    #: NUMBERING offset is modeled (reference refseq_sequence_offset_for_
    #: cdna); BAM-edited mapper rebuilds stay out of scope.
    refseq_edits: list["RefSeqEdit"] = field(default_factory=list)
    #: cached TranscriptMapper segments in genomic order (reference
    #: TranscriptFeature.cdna_mapper_segments) — present on BAM-edited
    #: RefSeq cache rows; when accepted by
    #: :func:`use_cdna_mapper_for_general_coords` they are the AUTHORITATIVE
    #: genomic↔cDNA converter and every refseq offset becomes a no-op
    cdna_mapper_segments: list["MapperSegment"] = field(default_factory=list)
    #: transcript source normalized to VEP labels ("Ensembl"/"RefSeq")
    source: str | None = None
    #: RefSeq BAM edit status ("ok"/"failed") — edited-sequence evidence
    bam_edit_status: str | None = None
    #: true when Ensembl treats the transcript's attributes as real RNA
    #: edits (poly-A tail artifacts excluded) for HGVS shifting
    has_non_polya_rna_edit: bool = False
    #: cached translation PROTEIN sequence (no terminal stop) from the
    #: translation cache — on bam_edit_status='failed' RefSeq rows this is
    #: the trusted protein when the raw CDS translation disagrees
    #: (reference TranslationFeature.translation_seq +
    #: failed_refseq_uses_cached_translation_for_consequence)
    translation_seq: str | None = None
    #: translation stable id (NP_/ENSP_) used as the HGVSp prefix
    translation_stable_id: str | None = None
    #: CANONICAL (unedited) CDS from the translation cache — when present,
    #: HGVSp works against it and CDS output positions subtract the edit
    #: deltas instead of adding them (reference
    #: TranslationFeature.cds_sequence_canonical /
    #: uses_canonical_reference_for_hgvsp)
    cds_sequence_canonical: str | None = None
    #: CANONICAL protein from the translation cache (reference
    #: TranslationFeature.translation_seq_canonical)
    translation_seq_canonical: str | None = None
    #: verbatim FLAGS string from a VEP cache (preserves the cache's
    #: encounter order); preferred over re-deriving from the booleans
    #: (reference compute_flags_uses_flags_str_when_present)
    flags_str: str | None = None
    mature_mirna_regions: list[tuple[int, int]] = field(default_factory=list)
    #: memoized geometry — a Transcript is reused across many variants in
    #: the classify UDF's per-batch cache; exons are never mutated after
    #: construction there
    _exons_cache: list[tuple[int, int]] | None = field(
        default=None, repr=False, compare=False
    )
    _introns_cache: list[tuple[int, int]] | None = field(
        default=None, repr=False, compare=False
    )

    def __post_init__(self) -> None:
        # spliced-only caches still get codon-level classification: derive
        # the translateable CDS from the mRNA coding slice when no cached
        # CDS exists (reference reference_translateable_seq_for_vep rule 2,
        # transcript_consequence.rs:3590-3621 — the N-phase alignment
        # against a translation cache lives in the standalone helper)
        if self.cds_sequence is None:
            derived = reference_translateable_seq_for_vep(self)
            if derived:
                self.cds_sequence = derived

    def sorted_exons(self) -> list[tuple[int, int]]:
        if self._exons_cache is None:
            self._exons_cache = (
                sorted(self.exons) if self.exons else [(self.start, self.end)]
            )
        return self._exons_cache

    def introns(self) -> list[tuple[int, int]]:
        if self._introns_cache is None:
            self._introns_cache = _introns(self.sorted_exons())
        return self._introns_cache


@dataclass
class RefSeqEdit:
    """One RefSeq ``_rna_edit`` attribute (reference
    transcript_consequence.rs:140-145): transcript-coordinate span
    [start, end] replaced by ``replacement_len`` bases (None = pure
    deletion).  Transcript-only insertions encode as ``end < start`` or
    the PEG10 form ``start == end`` with ``replacement_len > 1``."""

    start: int
    end: int
    replacement_len: int | None = None
    skip_refseq_offset: bool = False


def refseq_edit_offset_delta(edit: RefSeqEdit) -> int | None:
    """Net cDNA-length change of one edit (reference
    refseq_edit_offset_delta, transcript_consequence.rs:147-170, including
    the PEG10 ``start start SEQ`` insertion form)."""
    if edit.skip_refseq_offset:
        return None
    if edit.replacement_len is not None:
        if edit.end < edit.start or (edit.start == edit.end and edit.replacement_len > 1):
            replaced = 0
        else:
            replaced = edit.end - edit.start + 1
        delta = edit.replacement_len - replaced
    else:
        delta = -1 - (edit.end - edit.start)
    return delta if delta != 0 else None


def refseq_sequence_offset_for_cdna(t: Transcript, cdna_start: int) -> int | None:
    """Total numbering offset for an exonic cDNA position: the sum of the
    deltas of every edit ending before it — applied only on native RefSeq
    ids (NM/NR/XM/XR), never to intronic anchors, and never when an
    accepted mapper already encodes the edits (reference
    refseq_sequence_offset_for_cdna, transcript_consequence.rs:7652-7674;
    pinned by hgvs.rs test_hgvs_cdna_position_applies_refseq_offset_* /
    _does_not_apply_refseq_offset_to_intronic_coords)."""
    if t.transcript_id[:2] not in ("NM", "NR", "XM", "XR"):
        return None
    if use_cdna_mapper_for_general_coords(t):
        return None
    offset = 0
    for edit in t.refseq_edits:
        if edit.end >= cdna_start:
            continue
        offset += refseq_edit_offset_delta(edit) or 0
    return offset if offset != 0 else None


# ---------------------------------------------------------------------------
# TranscriptMapper segments / RefSeq-misalignment cDNA numbering
# (reference transcript_consequence.rs:6767-7060, 7638-7816 — the single-
# mapper model: an ACCEPTED mapper is the authoritative genomic↔cDNA
# converter and every refseq offset is a no-op; a REJECTED or ABSENT mapper
# routes through exon geometry with the cumulative edit offsets applied)
# ---------------------------------------------------------------------------


def _sorted_mapper_segments(t: Transcript) -> list[MapperSegment]:
    return sorted(
        t.cdna_mapper_segments,
        key=lambda s: (s.genomic_start, s.genomic_end, s.cdna_start),
    )


def mapper_segment_cdna_index(seg: MapperSegment, pos: int) -> int | None:
    """1-based cDNA index of a genomic position inside one mapper segment
    (reference mapper_segment_cdna_index, transcript_consequence.rs:6806)."""
    if pos < seg.genomic_start or pos > seg.genomic_end:
        return None
    local = pos - seg.genomic_start if seg.ori >= 0 else seg.genomic_end - pos
    return seg.cdna_start + local


def use_cdna_mapper_for_general_coords(t: Transcript) -> bool:
    """Whether the cached mapper is trusted for general coordinate lookups
    (reference use_cdna_mapper_for_general_coords,
    transcript_consequence.rs:6935-6976).  Rejected only when two adjacent
    segments are genomic-contiguous but cDNA-discontinuous — an
    edit-inserted cDNA run with no genomic mapping, the one layout the
    segment model cannot represent."""
    if not t.cdna_mapper_segments:
        return False
    segs = _sorted_mapper_segments(t)
    for prev, nxt in zip(segs, segs[1:]):
        if (
            nxt.genomic_start == prev.genomic_end + 1
            and nxt.cdna_start != prev.cdna_end + 1
        ):
            return False
    return True


def prefers_exon_geometry_over_mapper(t: Transcript) -> bool:
    """Native-RefSeq id check (reference prefers_exon_geometry_over_mapper,
    transcript_consequence.rs:6851): ordinary cDNA/intron numbering on
    RefSeq rows follows the explicit exon geometry; the mapper is consulted
    for the deleted-gap special cases."""
    return t.source == "RefSeq" or t.transcript_id[:2] in ("NM", "NR", "XM", "XR")


def uses_refseq_transcript_reference(t: Transcript) -> bool:
    """True when the live RefSeq transcript object's mapper/sequence state
    drives HGVS and cDNA coordinate work (reference
    uses_refseq_transcript_reference, transcript_consequence.rs:7400-7417)."""
    is_refseq = t.source == "RefSeq" or t.transcript_id[:2] in (
        "NM", "NR", "XM", "XR",
    )
    return is_refseq and (
        t.bam_edit_status is not None
        or bool(t.refseq_edits)
        or bool(t.cdna_mapper_segments)
        or t.spliced_seq is not None
    )


def refseq_has_edited_sequence_state(t: Transcript) -> bool:
    """Evidence the transcript sequence was actually EDITED, not merely
    cached (reference refseq_has_edited_sequence_state,
    transcript_consequence.rs:7418-7423)."""
    return uses_refseq_transcript_reference(t) and (
        t.bam_edit_status is not None
        or t.has_non_polya_rna_edit
        or bool(t.refseq_edits)
    )


@dataclass
class ProteinHgvs:
    """Protein-HGVS candidate state (reference ``ProteinHgvsData``,
    hgvs.rs:18-31): the peptide window plus full ref/alt translations the
    shifted-HGVSp machinery compares and re-windows."""

    start: int
    end: int
    ref_peptide: str
    alt_peptide: str
    ref_translation: str
    alt_translation: str
    alt_translation_extension: str | None = None
    frameshift: bool = False
    start_lost: bool = False
    stop_lost: bool = False
    native_refseq: bool = False


def refseq_shifted_insertion_equal_window(
    class_protein: ProteinHgvs, window_protein: ProteinHgvs
) -> ProteinHgvs | None:
    """Shifted-insertion 'equal window' re-anchoring (reference
    refseq_shifted_insertion_equal_window,
    transcript_consequence.rs:5138-5198): when the classification's
    inserted peptide equals the shifted window's reference peptide AND the
    upstream reference block equals it too, the event is a no-change over
    the upstream repeat block — re-window there with ref == alt (rendered
    ``p.<Ref><pos>=``)."""
    if (
        class_protein.frameshift
        or class_protein.start_lost
        or class_protein.stop_lost
        or window_protein.frameshift
        or window_protein.start_lost
        or window_protein.stop_lost
    ):
        return None
    if (
        not class_protein.alt_peptide
        or not window_protein.ref_peptide
        or class_protein.alt_peptide != window_protein.ref_peptide
    ):
        return None
    if window_protein.alt_peptide == window_protein.ref_peptide:
        return None
    peptide_len = len(class_protein.alt_peptide)
    if peptide_len > 0 and class_protein.start > peptide_len:
        upstream_start = class_protein.start - peptide_len
        upstream_end = class_protein.start - 1
        # an unreadable upstream window aborts the whole re-anchoring
        # (reference uses `?` here, not a fall-through)
        if upstream_start < 1 or upstream_end > len(class_protein.ref_translation):
            return None
        upstream_ref = class_protein.ref_translation[upstream_start - 1 : upstream_end]
        if upstream_ref == class_protein.alt_peptide:
            return ProteinHgvs(
                start=upstream_start,
                end=upstream_end,
                ref_peptide=upstream_ref,
                alt_peptide=upstream_ref,
                ref_translation=class_protein.ref_translation,
                alt_translation=class_protein.alt_translation,
                alt_translation_extension=class_protein.alt_translation_extension,
                native_refseq=class_protein.native_refseq,
            )
    return ProteinHgvs(
        start=window_protein.start,
        end=window_protein.end,
        ref_peptide=window_protein.ref_peptide,
        alt_peptide=window_protein.ref_peptide,
        ref_translation=class_protein.ref_translation,
        alt_translation=class_protein.alt_translation,
        alt_translation_extension=class_protein.alt_translation_extension,
        native_refseq=class_protein.native_refseq,
    )


# ---------------------------------------------------------------------------
# ProteinHgvs → HGVSp string formatter — the reference's format_hgvsp
# pipeline (hgvs.rs:1436-2040), itself a replay of Ensembl
# TranscriptVariationAllele::hgvs_protein / _get_hgvs_protein_format /
# _get_hgvs_peptides / _clip_alleles / _check_peptides_post_var /
# _check_for_peptide_duplication (release/115, URLs in the reference)
# ---------------------------------------------------------------------------


@dataclass
class ProteinHgvsNotation:
    """Mutable notation state the formatter pipeline rewrites (reference
    ProteinHgvsNotation, hgvs.rs:1436-1462)."""

    start: int
    end: int
    ref_allele: str
    alt_allele: str
    original_ref: str
    preseq: str = ""
    kind: str = ""


def normalize_peptide_allele(allele: str) -> str:
    """'-' placeholder → empty (reference normalize_peptide_allele)."""
    return "" if allele == "-" else allele


def _notation_from_context(data: ProteinHgvs) -> ProteinHgvsNotation:
    ref_allele = normalize_peptide_allele(data.ref_peptide)
    return ProteinHgvsNotation(
        start=data.start, end=data.end,
        ref_allele=ref_allele,
        alt_allele=normalize_peptide_allele(data.alt_peptide),
        original_ref=ref_allele,
    )


def clip_protein_alleles(notation: ProteinHgvsNotation) -> None:
    """Trim shared prefix (collected into ``preseq``) then shared suffix,
    moving start/end; classify the remainder (reference
    clip_protein_alleles, hgvs.rs:1568-1594 / Ensembl _clip_alleles)."""
    ref, alt = notation.ref_allele, notation.alt_allele
    start, end = notation.start, notation.end
    preseq = []
    while ref and alt and ref[0] == alt[0]:
        preseq.append(ref[0])
        ref, alt = ref[1:], alt[1:]
        start += 1
    while ref and alt and ref[-1] == alt[-1]:
        ref, alt = ref[:-1], alt[:-1]
        end = max(end - 1, 0)
    notation.start, notation.end = start, end
    notation.ref_allele, notation.alt_allele = ref, alt
    notation.preseq = "".join(preseq)
    if ref == alt:
        notation.kind = "="
    elif len(ref) == 1 and len(alt) == 1:
        notation.kind = ">"
    elif not ref and alt:
        notation.kind = "ins"
    elif ref and not alt:
        notation.kind = "del"
    else:
        notation.kind = "delins"


def protein_event_type(ref_allele: str, alt_allele: str, frameshift: bool) -> str:
    """reference protein_event_type (hgvs.rs:1600-1614)."""
    if frameshift:
        return "fs"
    if ref_allele == alt_allele:
        return "="
    if not ref_allele:
        return "ins"
    if not alt_allele:
        return "del"
    if len(ref_allele) == 1 and len(alt_allele) == 1:
        return ">"
    return "delins"


def append_terminal_stop(peptide: str) -> str:
    """Ensure a '*' is reachable for the frameshift walk (reference
    append_terminal_stop / Ensembl _get_fs_peptides)."""
    return peptide if "*" in peptide else peptide + "*"


def peptide_char(peptide: str, pos: int) -> str | None:
    """1-based residue lookup (reference peptide_char)."""
    if pos < 1 or pos > len(peptide):
        return None
    return peptide[pos - 1]


def resolve_frameshift_hgvs(
    notation: ProteinHgvsNotation, protein: ProteinHgvs
) -> bool:
    """Walk ref/alt translations from the variant position to the first
    changed residue (reference resolve_frameshift_hgvs, hgvs.rs:1621-1666
    / Ensembl _get_fs_peptides): a shared '*' renders ``p.Ter<N>=``; an
    exhausted alt translation renders a deletion form."""
    notation.kind = "fs"
    ref_translation = append_terminal_stop(protein.ref_translation)
    alt_translation = protein.alt_translation
    start = notation.start
    if start > len(alt_translation):
        notation.kind = "del"
        notation.end = start
        ch = peptide_char(ref_translation, start)
        if ch is None:
            return False
        notation.ref_allele = ch
        notation.alt_allele = ""
        return True
    while start <= len(alt_translation):
        ref_aa = peptide_char(ref_translation, start)
        alt_aa = peptide_char(alt_translation, start)
        if ref_aa is None or alt_aa is None:
            return False
        if ref_aa == "*" and alt_aa == "*":
            notation.kind = "="
            notation.start = notation.end = start
            notation.ref_allele = "*"
            notation.alt_allele = "*"
            return True
        if ref_aa != alt_aa:
            notation.start = notation.end = start
            notation.ref_allele = ref_aa
            notation.alt_allele = alt_aa
            return True
        start += 1
    notation.kind = "del"
    notation.start = notation.end = start
    ch = peptide_char(ref_translation, start)
    if ch is None:
        return False
    notation.ref_allele = ch
    notation.alt_allele = ""
    return True


def surrounding_peptides(
    ref_translation: str, ref_pos: int, original_ref: str,
    length: int | None = None,
) -> str | None:
    """Residues at/after ``ref_pos`` (reference surrounding_peptides /
    Ensembl _get_surrounding_peptides); a '*'-leading original ref extends
    the readable translation."""
    ref_trans = ref_translation
    if original_ref.startswith("*"):
        ref_trans = ref_trans + original_ref
    if len(ref_trans) < ref_pos:
        return None
    start = ref_pos - 1
    if start < 0:
        return None
    if length is not None:
        # reference uses str::get(start..start+len), which is None when the
        # window extends past the translation — an insertion flanked by the
        # LAST residue has no downstream flank pair and the whole HGVSp
        # renders None (reference surrounding_peptides, hgvs.rs:1786-1806;
        # NM_I.1 1103 C>CCTC on the round-10 differential grid)
        if start + length > len(ref_trans):
            return None
        return ref_trans[start : start + length]
    return ref_trans[start:]


def shift_peptides_post_var(
    notation: ProteinHgvsNotation, ref_translation: str
) -> None:
    """Peptide-level 3' shift: roll an ins/del event rightward while its
    leading residue equals the next post-variant residue (reference
    shift_peptides_post_var / Ensembl _check_peptides_post_var +
    _shift_3prime)."""
    post_seq = surrounding_peptides(
        ref_translation, notation.end + 1, notation.original_ref, None
    )
    if post_seq is None:
        return
    if notation.kind == "ins":
        seq = notation.alt_allele
    elif notation.kind == "del":
        seq = notation.ref_allele
    else:
        return
    deleted_len = len(seq)
    if deleted_len == 0 or len(post_seq) < deleted_len:
        return
    for check_next_post in post_seq:
        if not seq:
            break
        if seq[0] != check_next_post:
            break
        notation.start += 1
        notation.end += 1
        seq = seq[1:] + seq[0]
    if notation.kind == "ins":
        notation.alt_allele = seq
    else:
        notation.ref_allele = seq


def check_for_peptide_duplication(
    notation: ProteinHgvsNotation, ref_translation: str
) -> bool:
    """Insertion-as-duplication: the alt peptide equals the immediately
    upstream reference block (reference check_for_peptide_duplication /
    try_peptide_dup_at; Ensembl checks the single window at
    ``start - alt_len - 1`` with preseq appended, no fallback)."""
    if not notation.alt_allele or notation.start == 0:
        return False
    check_start = notation.start
    upstream = ref_translation[: max(check_start - 1, 0)] + notation.preseq
    alt_len = len(notation.alt_allele)
    test_new_start = check_start - alt_len - 1
    if test_new_start < 0:
        return False
    test_seq = upstream[test_new_start : test_new_start + alt_len]
    if len(test_seq) != alt_len:
        return False
    if test_seq == notation.alt_allele:
        notation.kind = "dup"
        notation.end = check_start - 1
        notation.start = check_start - alt_len
        return True
    return False


def stop_loss_extra_aa(
    protein: ProteinHgvs, ref_var_pos: int, frameshift: bool
) -> int | None:
    """Extension length to the next stop (reference stop_loss_extra_aa,
    hgvs.rs:1808-1846 / Ensembl _stop_loss_extra_AA): frameshift counts
    from the variant position; non-frameshift counts from the cached
    peptide length (trailing '*' stripped — internal stops of LoF
    transcripts count)."""
    alt_translation = (
        protein.alt_translation_extension
        if protein.alt_translation_extension is not None
        else protein.alt_translation
    )
    stop_idx = alt_translation.find("*")
    if stop_idx < 0:
        return None
    if frameshift:
        extra = stop_idx + 1 - ref_var_pos
    else:
        ref_len = len(protein.ref_translation.rstrip("*"))
        extra = stop_idx + 1 - (ref_len + 1)
    return extra if extra > 0 else None


def _pep3(peptide: str) -> str:
    """peptide_to_three_letter with the HGVS X→Ter display."""
    return "".join(_aa3(ch) for ch in peptide)


def _pep3_first(peptide: str) -> str | None:
    return _aa3(peptide[0]) if peptide else None


def _pep3_last(peptide: str) -> str | None:
    return _aa3(peptide[-1]) if peptide else None


def format_hgvsp_notation(
    protein_id: str, notation: ProteinHgvsNotation, protein: ProteinHgvs
) -> str | None:
    """Render the resolved notation (reference format_hgvsp_notation,
    hgvs.rs:1877-2040 / Ensembl _get_hgvs_protein_format)."""
    out = f"{protein_id}:p."
    if notation.ref_allele == notation.alt_allele and notation.kind not in ("fs", "ins"):
        return f"{out}{_pep3(notation.ref_allele)}{notation.start}="
    if protein.stop_lost and notation.kind in ("del", ">"):
        extra = stop_loss_extra_aa(protein, max(notation.start - 1, 0), False)
        ext = str(extra) if extra is not None else "?"
        alt_head = _pep3_first(notation.alt_allele) or "?"
        if len(notation.ref_allele) > 1 and notation.kind == "del":
            first = _pep3_first(notation.ref_allele)
            last = _pep3_last(notation.ref_allele)
            if first is None or last is None:
                return None
            return (
                f"{out}{first}{notation.start}_{last}{notation.end}"
                f"{alt_head}extTer{ext}"
            )
        return (
            f"{out}{_pep3(notation.ref_allele)}{notation.start}"
            f"{alt_head}extTer{ext}"
        )
    kind = notation.kind
    if kind == "dup":
        if notation.start < notation.end:
            first = _pep3_first(notation.alt_allele)
            last = _pep3_last(notation.alt_allele)
            if first is None or last is None:
                return None
            return f"{out}{first}{notation.start}_{last}{notation.end}dup"
        return f"{out}{_pep3(notation.alt_allele)}{notation.start}dup"
    if kind == ">":
        return (
            f"{out}{_pep3(notation.ref_allele)}{notation.start}"
            f"{_pep3(notation.alt_allele)}"
        )
    if kind in ("delins", "ins"):
        alt_allele = notation.alt_allele
        stop_idx = alt_allele.find("*")
        if stop_idx >= 0:
            alt_allele = alt_allele[: stop_idx + 1]
        alt = _pep3(alt_allele)
        if notation.ref_allele.endswith("*"):
            extra = stop_loss_extra_aa(protein, max(notation.start - 1, 0), False)
            if extra is not None:
                alt += f"extTer{extra}"
        if notation.start == notation.end and kind == "delins":
            first = _pep3_first(notation.ref_allele)
            if first is None:
                return None
            return f"{out}{first}{notation.start}{kind}{alt}"
        start, end = notation.start, notation.end
        if start > end:
            start, end = end, start
        first = _pep3_first(notation.ref_allele)
        last = _pep3_last(notation.ref_allele)
        if first is None or last is None:
            return None
        return f"{out}{first}{start}_{last}{end}{kind}{alt}"
    if kind == "fs":
        if notation.alt_allele == "*":
            return f"{out}{_pep3(notation.ref_allele)}{notation.start}Ter"
        extra = stop_loss_extra_aa(protein, max(notation.start - 1, 0), True)
        ext = str(extra) if extra is not None else "?"
        return (
            f"{out}{_pep3(notation.ref_allele)}{notation.start}"
            f"{_pep3(notation.alt_allele)}fsTer{ext}"
        )
    if kind == "del":
        if len(notation.ref_allele) > 1:
            first = _pep3_first(notation.ref_allele)
            last = _pep3_last(notation.ref_allele)
            if first is None or last is None:
                return None
            return f"{out}{first}{notation.start}_{last}{notation.end}del"
        return f"{out}{_pep3(notation.ref_allele)}{notation.start}del"
    if notation.start != notation.end:
        return (
            f"{out}{_pep3(notation.ref_allele)}{notation.start}"
            f"_{_pep3(notation.alt_allele)}{notation.end}"
        )
    return (
        f"{out}{_pep3(notation.ref_allele)}{notation.start}"
        f"{_pep3(notation.alt_allele)}"
    )


def format_hgvsp(
    protein_id: str, protein: ProteinHgvs, shift_hgvs: bool = True
) -> str | None:
    """ProteinHgvs candidate → final HGVSp string (reference format_hgvsp,
    hgvs.rs:1476-1566): start-lost renders ``p.<Ref>N?``; frameshifts walk
    to the first changed residue; otherwise clip → (optional) peptide 3'
    shift → duplication check → insertion flanking residues → render."""
    if protein.start_lost:
        start_ref = protein.ref_peptide or (
            protein.ref_translation[0] if protein.ref_translation else ""
        )
        head = _pep3_first(start_ref)
        if head is None:
            return None
        return f"{protein_id}:p.{head}{protein.start}?"
    notation = _notation_from_context(protein)
    if protein.frameshift:
        if not resolve_frameshift_hgvs(notation, protein):
            return None
    else:
        if notation.ref_allele != notation.alt_allele:
            clip_protein_alleles(notation)
        else:
            notation.kind = "="
        if not notation.kind:
            notation.kind = protein_event_type(
                notation.ref_allele, notation.alt_allele, False
            )
        # Ensembl shifts peptides post-var FIRST, then checks duplication —
        # the shift may change the insertion position, making the upstream
        # block different when the dup check runs
        if shift_hgvs and notation.kind in ("ins", "del"):
            shift_peptides_post_var(notation, protein.ref_translation)
        if notation.kind == "ins" and check_for_peptide_duplication(
            notation, protein.ref_translation
        ):
            pass  # dup detected — skip flanking
        elif notation.kind == "ins":
            flank = surrounding_peptides(
                protein.ref_translation,
                min(notation.start, notation.end),
                notation.original_ref,
                2,
            )
            if flank is None:
                return None
            notation.ref_allele = flank
    return format_hgvsp_notation(protein_id, notation, protein)


def parse_cdna_position_start(value: str) -> int | None:
    """Leading (possibly negative) integer of a cDNA-position display
    string (reference parse_cdna_position_start,
    annotate_provider.rs:5658-5686)."""
    value = value.strip()
    sign = 1
    i = 0
    if value.startswith("-"):
        sign = -1
        i = 1
    j = i
    while j < len(value) and value[j].isdigit():
        j += 1
    if j == i:
        return None
    return sign * int(value[i:j])


def refseq_offset_for_output(t: Transcript, cdna_position: str | None) -> int | None:
    """The VEP REFSEQ_OFFSET column value: the cumulative SEQUENCE-space
    edit delta before the variant's cDNA start, NM/XM-gated, derived from
    the displayed cDNA position (reference refseq_misalignment_offset,
    annotate_provider.rs:5688-5702 — note this output column ignores the
    mapper, unlike the coordinate machinery's misalignment offset)."""
    if cdna_position is None:
        return None
    if not (t.transcript_id.startswith("NM_") or t.transcript_id.startswith("XM_")):
        return None
    if not t.refseq_edits:
        return None
    cdna_start = parse_cdna_position_start(cdna_position)
    if cdna_start is None:
        return None
    offset = 0
    for edit in t.refseq_edits:
        if edit.end >= cdna_start:
            continue
        offset += refseq_edit_offset_delta(edit) or 0
    return offset if offset != 0 else None


def failed_refseq_cached_protein(t: Transcript, cds: str) -> str | None:
    """The cached translation protein, when a ``bam_edit_status='failed'``
    RefSeq row's raw CDS translation DISAGREES with it — the cached protein
    is then the trusted reference for consequence calls (reference
    failed_refseq_uses_cached_translation_for_consequence +
    reference_aas_for_consequence, transcript_consequence.rs:3505-3551;
    raw translations of failed BAM edits can carry internal stops that
    must not become stop_lost/stop_gained)."""
    if t.bam_edit_status is None or t.bam_edit_status.lower() != "failed":
        return None
    if t.translation_seq is None:
        return None
    translated = translate(cds).rstrip("*")
    if t.translation_seq == translated:
        return None
    return t.translation_seq


def refseq_edit_overlaps_coding_sequence(t: Transcript, edit: RefSeqEdit) -> bool:
    """Whether one ``_rna_edit`` touches the coding cDNA span — insertions
    (``end < start``) count only when inserted BETWEEN coding bases
    (reference refseq_edit_overlaps_coding_sequence,
    transcript_consequence.rs:7426-7443)."""
    if t.cdna_coding_start is None or t.cdna_coding_end is None:
        return True
    cs, ce = t.cdna_coding_start, t.cdna_coding_end
    if edit.end < edit.start:
        return edit.end >= cs and edit.start <= ce
    return edit.start <= ce and edit.end >= cs


def refseq_uses_transcript_shift_for_hgvsp(t: Transcript) -> bool:
    """Whether HGVS protein shifting must use the EDITED transcript
    sequence: real edit evidence overlapping the CDS, never poly-A tail
    artifacts or same-length substitution edits (reference
    refseq_uses_transcript_shift_for_hgvsp,
    transcript_consequence.rs:7444-7457)."""
    if not uses_refseq_transcript_reference(t):
        return False
    if not t.refseq_edits:
        return t.has_non_polya_rna_edit
    return any(
        refseq_edit_overlaps_coding_sequence(t, e)
        and (refseq_edit_offset_delta(e) or 0) != 0
        for e in t.refseq_edits
    )


def apply_refseq_deletion_edits_to_cdna(
    genomic_cdna: str, edits: list[RefSeqEdit]
) -> str | None:
    """Apply pure-deletion edits to a genomic-spliced cDNA (reference
    apply_refseq_deletion_edits_to_cdna, transcript_consequence.rs:7545-7572).
    None when any edit is not a simple ordered deletion."""
    if not edits:
        return genomic_cdna.upper()
    out = []
    cursor = 1
    for edit in edits:
        if edit.replacement_len is not None or edit.end < edit.start:
            return None
        if edit.start <= 0 or edit.start < cursor or edit.end > len(genomic_cdna):
            return None
        out.append(genomic_cdna[cursor - 1 : edit.start - 1].upper())
        cursor = edit.end + 1
    out.append(genomic_cdna[cursor - 1 :].upper())
    return "".join(out)


def infer_refseq_deletion_edits_from_sequences(
    genomic_cdna: str, edited_cdna: str
) -> list[RefSeqEdit]:
    """Greedy left-to-right diff recovering the pure-deletion ``_rna_edit``
    list that turns the genomic-spliced cDNA into the edited transcript
    sequence; validated by re-applying (reference
    infer_refseq_deletion_edits_from_sequences,
    transcript_consequence.rs:7574-7636)."""
    g, e = genomic_cdna, edited_cdna
    if len(e) >= len(g) or not g or not e:
        return []
    edits: list[RefSeqEdit] = []
    gi = ei = 0
    while gi < len(g) and ei < len(e):
        if g[gi].upper() == e[ei].upper():
            gi += 1
            ei += 1
            continue
        remaining_deleted = (len(g) - gi) - (len(e) - ei)
        deleted_len = None
        for candidate in range(1, max(remaining_deleted, 0) + 1):
            nxt = gi + candidate
            if nxt == len(g) or g[nxt].upper() == e[ei].upper():
                deleted_len = candidate
                break
        if deleted_len is None:
            return []
        edits.append(RefSeqEdit(gi + 1, gi + deleted_len, None))
        gi += deleted_len
    if ei != len(e):
        return []
    if gi < len(g):
        edits.append(RefSeqEdit(gi + 1, len(g), None))
    rebuilt = apply_refseq_deletion_edits_to_cdna(genomic_cdna, edits)
    if rebuilt is not None and rebuilt.upper() == edited_cdna.upper():
        return edits
    return []


def exact_mapper_cdna_index_for_hgvsp(t: Transcript, pos: int) -> int | None:
    """Mapper-exact cDNA index used by HGVSp on edited RefSeq transcripts
    (reference exact_mapper_cdna_index_for_hgvsp,
    transcript_consequence.rs:6818-6825)."""
    if not refseq_has_edited_sequence_state(t) or not t.cdna_mapper_segments:
        return None
    for seg in t.cdna_mapper_segments:
        idx = mapper_segment_cdna_index(seg, pos)
        if idx is not None:
            return idx
    return None


def genomic_to_cdna_index_for_hgvsp(t: Transcript, pos: int) -> int | None:
    """HGVSp coordinate resolution: the EXACT mapper first on edited RefSeq
    rows, else the general transcript converter (reference
    genomic_to_cdna_index_for_hgvsp, transcript_consequence.rs:6827-6834)."""
    idx = exact_mapper_cdna_index_for_hgvsp(t, pos)
    if idx is not None:
        return idx
    return genomic_to_cdna_index_for_transcript(t, pos)


def genomic_to_cds_index_for_hgvsp(t: Transcript, pos: int) -> int | None:
    """CDS twin of :func:`genomic_to_cdna_index_for_hgvsp` (reference
    genomic_to_cds_index_for_hgvsp, transcript_consequence.rs:6836-6850)."""
    cdna = exact_mapper_cdna_index_for_hgvsp(t, pos)
    if cdna is not None:
        if t.cdna_coding_start is None or t.cdna_coding_end is None:
            return None
        if cdna < t.cdna_coding_start or cdna > t.cdna_coding_end:
            return None
        return cdna - t.cdna_coding_start
    return genomic_to_cds_index(t, pos)


def genomic_to_cdna_index_for_transcript(t: Transcript, pos: int) -> int | None:
    """1-based spliced-transcript index of a genomic position — through the
    accepted mapper when present, else exon geometry (reference
    genomic_to_cdna_index_for_transcript, transcript_consequence.rs:6989-6998)."""
    if use_cdna_mapper_for_general_coords(t):
        for seg in t.cdna_mapper_segments:
            idx = mapper_segment_cdna_index(seg, pos)
            if idx is not None:
                return idx
        return None
    off = _genomic_to_cdna_offset(t, pos)
    return None if off is None else off + 1


def genomic_to_cds_index(t: Transcript, pos: int) -> int | None:
    """0-based CDS index of a genomic position (reference
    genomic_to_cds_index, transcript_consequence.rs:7984-8014): native
    RefSeq rows resolve through the (mapper-aware) transcript converter
    against the cached cDNA coding bounds; everything else walks the
    exon-geometry coding segments."""
    if prefers_exon_geometry_over_mapper(t):
        cdna = genomic_to_cdna_index_for_transcript(t, pos)
        if cdna is None or t.cdna_coding_start is None or t.cdna_coding_end is None:
            return None
        if cdna < t.cdna_coding_start or cdna > t.cdna_coding_end:
            return None
        return cdna - t.cdna_coding_start
    return _genomic_to_cds_offset(t, pos)


def mapper_deleted_gap_cdna_index(t: Transcript, pos: int) -> int | None:
    """cDNA index of a genomic base that falls in the tiny genomic gap
    between adjacent mapper segments — a one-or-more-base ``_rna_edit``
    deletion; Ensembl's TranscriptMapper resolves the deleted transcript
    position itself rather than an intronic ``+1`` offset (reference
    mapper_deleted_gap_cdna_index, transcript_consequence.rs:6860-6911).
    Exon-gated: a TRUE intron between mapper segments never matches."""
    if len(t.cdna_mapper_segments) < 2:
        return None
    if not any(es <= pos <= ee for es, ee in t.sorted_exons()):
        return None
    segs = _sorted_mapper_segments(t)
    for prev, nxt in zip(segs, segs[1:]):
        gap_len = nxt.genomic_start - prev.genomic_end - 1
        if gap_len < 1:
            continue
        gap_start = prev.genomic_end + 1
        gap_end = nxt.genomic_start - 1
        if pos < gap_start or pos > gap_end:
            continue
        if t.strand >= 0 and nxt.cdna_start == prev.cdna_end + 1:
            return prev.cdna_end + 1 + (pos - gap_start)
        if t.strand < 0 and prev.cdna_start == nxt.cdna_end + 1:
            return nxt.cdna_end + 1 + (gap_end - pos)
    return None


def refseq_deleted_edit_cdna_index(t: Transcript, pos: int) -> int | None:
    """cDNA index of an exonic base whose raw exon-geometry cDNA lands
    inside a pure-deletion ``_rna_edit`` span on a transcript WITHOUT an
    accepted mapper (reference refseq_deleted_edit_cdna_index,
    transcript_consequence.rs:6913-6936)."""
    if use_cdna_mapper_for_general_coords(t) or not t.refseq_edits:
        return None
    if not any(es <= pos <= ee for es, ee in t.sorted_exons()):
        return None
    off = _genomic_to_cdna_offset(t, pos)
    if off is None:
        return None
    raw_cdna = off + 1
    for edit in t.refseq_edits:
        if edit.skip_refseq_offset or (refseq_edit_offset_delta(edit) or 0) >= 0:
            continue
        if edit.start <= raw_cdna <= edit.end:
            return raw_cdna
    return None


def mapper_insertion_gap_cdna_position(t: Transcript, variant_start: int) -> int | None:
    """Anchor cDNA position for an insertion landing exactly at a
    genomic-contiguous, cDNA-gapped mapper boundary (an edit-inserted base
    with no genomic mapping; reference mapper_insertion_gap_cdna_position,
    transcript_consequence.rs:7327-7358).  Only the two-apart form (one
    inserted base) anchors."""
    if len(t.cdna_mapper_segments) < 2:
        return None
    segs = _sorted_mapper_segments(t)
    for prev, nxt in zip(segs, segs[1:]):
        if nxt.genomic_start != prev.genomic_end + 1 or variant_start != nxt.genomic_start:
            continue
        if prev.cdna_end + 2 == nxt.cdna_start:
            return prev.cdna_end + 1
        if nxt.cdna_end + 2 == prev.cdna_start:
            return nxt.cdna_end + 1
    return None


def refseq_mapper_edit_offset_delta(edit: RefSeqEdit) -> int | None:
    """Net cDNA-length change of one edit in MAPPER space (reference
    refseq_mapper_edit_offset_delta, transcript_consequence.rs:172-190).
    Unlike :func:`refseq_edit_offset_delta` there is NO PEG10
    same-coordinate-insertion special case: ``start == end`` always counts
    one replaced base."""
    if edit.skip_refseq_offset:
        return None
    if edit.replacement_len is not None:
        replaced = 0 if edit.end < edit.start else edit.end - edit.start + 1
        delta = edit.replacement_len - replaced
    else:
        delta = -1 - (edit.end - edit.start)
    return delta if delta != 0 else None


def refseq_cumulative_edit_offset_for_cdna(t: Transcript, cdna_start: int) -> int | None:
    """Sum of mapper-space deltas of every edit ending before the position
    — coding RefSeq ids (NM/XM) only (reference
    refseq_cumulative_edit_offset_for_cdna,
    transcript_consequence.rs:7638-7650)."""
    if not (t.transcript_id.startswith("NM_") or t.transcript_id.startswith("XM_")):
        return None
    offset = 0
    for edit in t.refseq_edits:
        if edit.end >= cdna_start:
            continue
        offset += refseq_mapper_edit_offset_delta(edit) or 0
    return offset if offset != 0 else None


def refseq_misalignment_offset_for_cdna(t: Transcript, cdna_start: int) -> int | None:
    """The single-mapper model's offset (reference
    refseq_misalignment_offset_for_cdna, transcript_consequence.rs:7676-7705):
    an ACCEPTED mapper already encodes every edit in its cDNA coordinates,
    so the offset is a no-op; a rejected or absent mapper works in unedited
    exon-geometry cDNA and the cumulative offset shifts positions into
    edited space."""
    if use_cdna_mapper_for_general_coords(t):
        return None
    return refseq_cumulative_edit_offset_for_cdna(t, cdna_start)


def edited_transcript_cdna_index(t: Transcript, cdna: int) -> int | None:
    """Shift an exon-geometry cDNA index into edited-transcript OUTPUT
    numbering (mapper-space deltas; reference edited_transcript_cdna_index,
    transcript_consequence.rs:7519-7527)."""
    if use_cdna_mapper_for_general_coords(t):
        return cdna
    adjusted = cdna + (refseq_misalignment_offset_for_cdna(t, cdna) or 0)
    return adjusted if adjusted > 0 else None


def edited_transcript_sequence_cdna_index(t: Transcript, cdna: int) -> int | None:
    """Shift an exon-geometry cDNA index into edited-transcript SEQUENCE
    indexing (sequence-space deltas; reference
    edited_transcript_sequence_cdna_index, transcript_consequence.rs:7529-7540)."""
    if use_cdna_mapper_for_general_coords(t):
        return cdna
    adjusted = cdna + (refseq_sequence_offset_for_cdna(t, cdna) or 0)
    return adjusted if adjusted > 0 else None


def adjust_refseq_cds_output_position(
    t: Transcript, raw_cds_position: int, leading_n_offset: int = 0
) -> int | None:
    """Shift a raw CDS output position into edited numbering on coding
    RefSeq ids (reference adjust_refseq_cds_output_position,
    transcript_consequence.rs:7707-7735)."""
    if raw_cds_position == 0 or not (
        t.transcript_id.startswith("NM_") or t.transcript_id.startswith("XM_")
    ):
        return raw_cds_position
    cdna_without_padding = raw_cds_position - leading_n_offset
    if cdna_without_padding <= 0:
        return raw_cds_position
    if t.cdna_coding_start is None:
        return raw_cds_position
    cdna_position = t.cdna_coding_start + cdna_without_padding - 1
    adjusted = raw_cds_position + (
        refseq_misalignment_offset_for_cdna(t, cdna_position) or 0
    )
    return adjusted if adjusted > 0 else None


def adjust_refseq_canonical_cds_output_position_for_hgvsp(
    t: Transcript, raw_cds_position: int, leading_n_offset: int = 0
) -> int | None:
    """HGVSp twin working against the CANONICAL (unedited) reference CDS:
    the cumulative offset is SUBTRACTED (reference
    adjust_refseq_canonical_cds_output_position_for_hgvsp,
    transcript_consequence.rs:7737-7763)."""
    if raw_cds_position == 0 or not (
        t.transcript_id.startswith("NM_") or t.transcript_id.startswith("XM_")
    ):
        return raw_cds_position
    cdna_without_padding = raw_cds_position - leading_n_offset
    if cdna_without_padding <= 0:
        return raw_cds_position
    if t.cdna_coding_start is None:
        return raw_cds_position
    cdna_position = t.cdna_coding_start + cdna_without_padding - 1
    adjusted = raw_cds_position - (
        refseq_cumulative_edit_offset_for_cdna(t, cdna_position) or 0
    )
    return adjusted if adjusted > 0 else None


def adjust_refseq_cds_sequence_index(
    t: Transcript, raw_cds_index: int, leading_n_offset: int = 0
) -> int | None:
    """0-based sequence-index form of
    :func:`adjust_refseq_cds_output_position` (reference
    transcript_consequence.rs:7765-7776)."""
    raw_cds_position = raw_cds_index + 1
    adjusted = adjust_refseq_cds_output_position(t, raw_cds_position, leading_n_offset)
    if adjusted is None:
        adjusted = raw_cds_position
    return adjusted - 1 if adjusted >= 1 else None


def adjust_refseq_cds_sequence_index_for_hgvsp_reference(
    t: Transcript, raw_cds_index: int, leading_n_offset: int = 0
) -> int | None:
    """0-based HGVSp-reference sequence-index adjust: canonical-CDS caches
    SUBTRACT the cumulative edit delta, edited references add the mapper
    offset (reference adjust_refseq_cds_sequence_index_for_hgvsp_reference,
    transcript_consequence.rs:7778-7797)."""
    raw_cds_position = raw_cds_index + 1
    if t.cds_sequence_canonical is not None:
        adjusted = adjust_refseq_canonical_cds_output_position_for_hgvsp(
            t, raw_cds_position, leading_n_offset
        )
    else:
        adjusted = adjust_refseq_cds_output_position(t, raw_cds_position, leading_n_offset)
    if adjusted is None:
        adjusted = raw_cds_position
    return adjusted - 1 if adjusted >= 1 else None


@dataclass
class ShiftedTvaCoords:
    """Shifted transcript-variation-allele window (reference
    ShiftedTvaCoords): 1-based CDS bounds + peptide bounds."""

    cds_start: int
    cds_end: int
    protein_start: int
    protein_end: int


def reference_translateable_seq_for_hgvsp_of(t: Transcript) -> str | None:
    """The HGVSp reference CDS: the CANONICAL cache when present, else the
    transcript's own translateable sequence (reference
    reference_translateable_seq_for_hgvsp,
    transcript_consequence.rs:3625-3634)."""
    if t.cds_sequence_canonical is not None:
        return t.cds_sequence_canonical.upper()
    if t.cds_sequence is not None:
        return t.cds_sequence.upper()
    derived = reference_translateable_seq_for_vep(t)
    return derived.upper() if derived else None


def shifted_tva_coords_from_mapper(
    t: Transcript, shifted_start: int, shifted_end: int
) -> ShiftedTvaCoords | None:
    """CDS/peptide window of a SHIFTED variant through the exact mapper +
    HGVSp-reference projection (reference shifted_tva_coords_from_mapper,
    transcript_consequence.rs:4276-4400).  Insertions arrive in VEP's
    swapped form (``start == end + 1``); their mapped interval is the
    transcript-space gap between the flanks, preserved in MAPPER order."""
    ref_cds = reference_translateable_seq_for_hgvsp_of(t)
    if ref_cds is None:
        return None
    lead = _leading_n(ref_cds)
    if t.cdna_coding_start is None or t.cdna_coding_end is None:
        return None
    coding_start, coding_end = t.cdna_coding_start, t.cdna_coding_end

    is_insertion = shifted_start == shifted_end + 1
    if is_insertion:
        left = genomic_to_cdna_index_for_hgvsp(t, shifted_end)
        right = genomic_to_cdna_index_for_hgvsp(t, shifted_start)
        if left is None or right is None:
            return None
        cdna_start, cdna_end = left + 1, right - 1
    else:
        positions = list(range(min(shifted_start, shifted_end), max(shifted_start, shifted_end) + 1))
        cdna_positions = []
        for pos in positions:
            idx = genomic_to_cdna_index_for_hgvsp(t, pos)
            if idx is None:
                return None
            cdna_positions.append(idx)
        cdna_positions.sort()
        cdna_start, cdna_end = cdna_positions[0], cdna_positions[-1]

    if cdna_end < coding_start or cdna_start > coding_end:
        return None

    raw_cds_start = cdna_start - coding_start + 1 + lead
    raw_cds_end = cdna_end - coding_start + 1 + lead
    adj_s = adjust_refseq_cds_sequence_index_for_hgvsp_reference(t, raw_cds_start - 1, lead)
    adj_e = adjust_refseq_cds_sequence_index_for_hgvsp_reference(t, raw_cds_end - 1, lead)
    cds_start = adj_s + 1 if adj_s is not None else raw_cds_start
    cds_end = adj_e + 1 if adj_e is not None else raw_cds_end

    def translateable_pos_1based(genomic_pos: int) -> int | None:
        raw_idx = genomic_to_cds_index_for_hgvsp(t, genomic_pos)
        if raw_idx is None:
            return None
        raw_idx += lead
        adj = adjust_refseq_cds_sequence_index_for_hgvsp_reference(t, raw_idx, lead)
        return None if adj is None else adj + 1

    if is_insertion:
        left = translateable_pos_1based(shifted_end)
        right = translateable_pos_1based(shifted_start)
        if left is None or right is None:
            return None
        protein_start = (left + 1 + 2) // 3
        protein_end = (right + 1 + 2) // 3
    else:
        positions = list(range(min(shifted_start, shifted_end), max(shifted_start, shifted_end) + 1))
        peps = []
        for pos in positions:
            tr_pos = translateable_pos_1based(pos)
            if tr_pos is None:
                return None
            peps.append((tr_pos + 2) // 3)
        peps.sort()
        protein_start, protein_end = peps[0], peps[-1]

    return ShiftedTvaCoords(cds_start, cds_end, protein_start, protein_end)


def _local_peptide_from_codon_window(codon: str) -> str:
    """VEP ``codon()``-window peptide: whole codons translate, a trailing
    partial codon appends ``X`` (unless the window is a lone stop), empty
    renders ``-`` (reference local_peptide_from_codon_window,
    transcript_consequence.rs:3420-3440)."""
    if not codon:
        return "-"
    whole_len = len(codon) // 3 * 3
    peptide = translate(codon[:whole_len] + "AA")[: whole_len // 3] if whole_len else ""
    # translate() walks len-2 windows; slice keeps exactly the whole codons
    if len(codon) > whole_len and peptide != "*":
        peptide += "X"
    return peptide or "-"


def _tva_feature_seq_for_transcript(t: Transcript, variation_feature_seq: str) -> str:
    allele = variation_feature_seq.replace("-", "")
    if t.strand >= 0:
        return allele.upper()
    return revcomp(allele).upper()


def shifted_tva_peptide_window(
    t: Transcript,
    coords: ShiftedTvaCoords,
    window_protein_start: int,
    window_protein_end: int,
    variation_feature_seq: str,
    is_reference: bool,
) -> tuple[str, str, str | None] | None:
    """Rebuild the shifted TVA peptide from the HGVSp reference CDS
    (reference shifted_tva_peptide_window,
    transcript_consequence.rs:4402-4514; Ensembl
    TranscriptVariationAllele::codon()/_get_alternate_cds()).  Returns
    ``(peptide, cds, alt_translation)``."""
    reference_cds_seq = reference_translateable_seq_for_hgvsp_of(t)
    if reference_cds_seq is None:
        return None
    feature_seq = _tva_feature_seq_for_transcript(t, variation_feature_seq)
    codon_cds_start = window_protein_start * 3 - 2
    if codon_cds_start < 1:
        return None
    codon_cds_end = window_protein_end * 3
    codon_len = codon_cds_end - codon_cds_start + 1 if codon_cds_end >= codon_cds_start else 0
    codon_start_idx = codon_cds_start - 1
    if codon_start_idx > len(reference_cds_seq):
        return None
    allele_len = len(feature_seq)
    cds_start_idx = coords.cds_start - 1
    cds_end_idx = coords.cds_end - 1
    if cds_start_idx < 0 or cds_end_idx < -1:
        return None
    vf_nt_len = (
        coords.cds_end - coords.cds_start + 1
        if coords.cds_end >= coords.cds_start
        else 0
    )
    if is_reference:
        cds = reference_cds_seq
        # Ensembl only patches the reference CDS with feature_seq when real
        # _rna_edit attributes exist AND HGVSp is not on a canonical cache
        if (
            t.cds_sequence_canonical is None
            and t.refseq_edits
            and vf_nt_len > 0
        ):
            downstream_start = min(cds_end_idx + 1, len(cds))
            cds = cds[:cds_start_idx] + feature_seq + cds[downstream_start:]
    else:
        downstream_start = min(cds_end_idx + 1, len(reference_cds_seq))
        cds = (
            reference_cds_seq[:cds_start_idx]
            + feature_seq
            + reference_cds_seq[downstream_start:]
        )
    if is_reference:
        codon_window_len = codon_len
    else:
        codon_window_len = max(codon_len + (allele_len - vf_nt_len), 0)
    codon_end_idx = min(codon_start_idx + codon_window_len, len(cds))
    codon = cds[codon_start_idx:codon_end_idx]
    peptide = _local_peptide_from_codon_window(codon)
    alt_translation = None
    if not is_reference:
        alt_translation = translated_alt_protein_for_hgvs(t, cds) or translate(cds)
    return peptide, cds, alt_translation


def edited_ref_translation_for_hgvsp(t: Transcript, fallback: str) -> str:
    """Reference translation for shifted DELETIONS on edited RefSeq rows:
    the cached edited protein when present, else the translated edited CDS
    (reference edited_ref_translation_for_hgvsp,
    transcript_consequence.rs:3575-3589)."""
    if t.translation_seq is not None:
        return t.translation_seq
    seq = reference_translateable_seq_for_vep(t)
    if seq:
        return translate(seq)
    return fallback


def shifted_tva_protein_hgvs_data(
    t: Transcript,
    start: int, end: int, ref: str, alt: str,
    parser_start: int, parser_end: int, parser_ref: str, parser_alt: str,
    shift: HgvsShift,
    fallback: ProteinHgvs | None = None,
) -> ProteinHgvs | None:
    """The shifted protein-HGVS candidate: shifted variant → mapper TVA
    window → alt/ref peptides over the HGVSp reference CDS (reference
    shifted_tva_protein_hgvs_data, transcript_consequence.rs:4532-4630)."""
    reference_cds_seq = reference_translateable_seq_for_hgvsp_of(t)
    if reference_cds_seq is None:
        return None
    sv = protein_hgvs_shifted_variant_for_reference(
        t, start, end, ref, alt,
        parser_start, parser_end, parser_ref, parser_alt, shift,
    )
    ref_len = len("" if sv.ref in ("-", None) else sv.ref)
    alt_len = len("" if sv.alt in ("-", None) else sv.alt)
    shifted_is_deletion = ref_len > alt_len
    coords = shifted_tva_coords_from_mapper(t, sv.start, sv.end)
    if coords is None:
        return None
    alt_feature_seq = sv.alt
    ref_feature_seq = (
        shift.shifted_allele_string
        if alt_feature_seq == "-"
        else shift.ref_orig_allele_string
    )
    wps, wpe = coords.protein_start, coords.protein_end
    alt_win = shifted_tva_peptide_window(t, coords, wps, wpe, alt_feature_seq, False)
    if alt_win is None:
        return None
    alt_peptide, alt_cds, alt_translation = alt_win
    ref_win = shifted_tva_peptide_window(t, coords, wps, wpe, ref_feature_seq, True)
    if ref_win is None:
        return None
    ref_peptide = ref_win[0]
    canonical_ref_translation = (
        t.translation_seq_canonical
        if t.translation_seq_canonical is not None
        else translate(reference_cds_seq)
    )
    if refseq_has_edited_sequence_state(t) and shifted_is_deletion:
        ref_translation = edited_ref_translation_for_hgvsp(t, canonical_ref_translation)
    else:
        ref_translation = canonical_ref_translation
    return ProteinHgvs(
        start=wps,
        end=wpe,
        ref_peptide=ref_peptide,
        alt_peptide=alt_peptide,
        ref_translation=ref_translation,
        alt_translation=alt_translation or translate(alt_cds),
        alt_translation_extension=translated_alt_protein_for_hgvs(t, alt_cds),
        frameshift=(
            fallback.frameshift
            if fallback is not None
            else (abs(alt_len - ref_len) % 3 != 0)
        ),
        start_lost=fallback.start_lost if fallback is not None else False,
        stop_lost=fallback.stop_lost if fallback is not None else False,
        native_refseq=refseq_has_edited_sequence_state(t),
    )


def shifted_output_allele_for_transcript(strand: int, shifted_output_allele: str) -> str:
    """The shifted HGVS output allele in transcript orientation (reference
    shifted_output_allele_for_transcript, transcript_consequence.rs:4210-4218)."""
    allele = shifted_output_allele.replace("-", "")
    if strand >= 0:
        return allele
    return revcomp(allele).upper()


def literal_shifted_indel_protein_hgvs_data(
    t: Transcript, shift: HgvsShift
) -> ProteinHgvs | None:
    """VEP's literal shifted indel peptide payload: CDS/protein window from
    the SHIFTED genomic span, alleles from the shifted HGVS state
    (reference literal_shifted_indel_protein_hgvs_data,
    transcript_consequence.rs:4016-4178; start/stop-lost flags come from
    the original candidate in the reference — callers patch them)."""
    reference_cds_seq = reference_translateable_seq_for_hgvsp_of(t)
    if reference_cds_seq is None:
        return None
    lead = _leading_n(reference_cds_seq)
    shifted_start = shift.display_start()
    shifted_end = shift.display_end()
    is_shift_insertion = shifted_start > shifted_end
    is_shift_deletion = shift.shifted_compare_allele == "-"
    if is_shift_insertion:
        raw_idx = genomic_to_cds_index_for_hgvsp(t, shifted_start)
        if raw_idx is None:
            return None
        raw_idx += lead
        cds_idx = adjust_refseq_cds_sequence_index_for_hgvsp_reference(t, raw_idx, lead)
        if cds_idx is None:
            cds_idx = raw_idx
        if cds_idx > len(reference_cds_seq):
            return None
        rotated_alt = shifted_output_allele_for_transcript(
            t.strand, shift.shifted_output_allele
        )
        cds_start_idx, cds_end_idx, vf_nt_len = cds_idx, cds_idx - 1, 0
    elif is_shift_deletion:
        positions = list(range(min(shifted_start, shifted_end), max(shifted_start, shifted_end) + 1))
        if not positions:
            return None
        cds_indices = []
        for pos in positions:
            raw_idx = genomic_to_cds_index_for_hgvsp(t, pos)
            if raw_idx is None:
                return None
            raw_idx += lead
            adj = adjust_refseq_cds_sequence_index_for_hgvsp_reference(t, raw_idx, lead)
            cds_indices.append(adj if adj is not None else raw_idx)
        cds_indices.sort()
        if any(b != a + 1 for a, b in zip(cds_indices, cds_indices[1:])):
            return None
        cds_start_idx, cds_end_idx = cds_indices[0], cds_indices[-1]
        if cds_end_idx >= len(reference_cds_seq):
            return None
        vf_nt_len = cds_end_idx - cds_start_idx + 1
        rotated_alt = ""
    else:
        return None

    downstream_start = cds_start_idx if is_shift_insertion else cds_end_idx + 1
    alternate_seq = (
        reference_cds_seq[:cds_start_idx] + rotated_alt + reference_cds_seq[downstream_start:]
    )
    raw_start = (cds_start_idx + 1 + 2) // 3
    raw_end = (cds_end_idx + 1 + 2) // 3
    low, high = min(raw_start, raw_end), max(raw_start, raw_end)
    codon_cds_start = low * 3 - 2
    if codon_cds_start < 1:
        return None
    codon_cds_end = high * 3
    codon_len = codon_cds_end - codon_cds_start + 1
    codon_start_idx = codon_cds_start - 1
    if codon_start_idx > len(reference_cds_seq):
        return None
    ref_end_idx = min(codon_start_idx + codon_len, len(reference_cds_seq))
    ref_codon = reference_cds_seq[codon_start_idx:ref_end_idx]
    alt_window_len = codon_len + len(rotated_alt) - vf_nt_len
    alt_end_idx = (
        codon_start_idx
        if alt_window_len <= 0
        else min(codon_start_idx + alt_window_len, len(alternate_seq))
    )
    alt_codon = alternate_seq[codon_start_idx:alt_end_idx]
    ref_peptide = _local_peptide_from_codon_window(ref_codon)
    alt_peptide = _local_peptide_from_codon_window(alt_codon)
    start, end = (
        (raw_end, raw_start)
        if ref_peptide == "-" and raw_start != raw_end
        else (raw_start, raw_end)
    )
    return ProteinHgvs(
        start=start,
        end=end,
        ref_peptide=ref_peptide,
        alt_peptide=alt_peptide,
        ref_translation=(
            t.translation_seq_canonical
            if t.translation_seq_canonical is not None
            else translate(reference_cds_seq)
        ),
        alt_translation=translated_alt_protein_for_hgvs(t, alternate_seq)
        or translate(alternate_seq),
        alt_translation_extension=translated_alt_protein_for_hgvs(t, alternate_seq),
        frameshift=(abs(vf_nt_len - len(rotated_alt)) % 3) != 0,
        native_refseq=refseq_has_edited_sequence_state(t),
    )


def adjust_refseq_cdna_component(t: Transcript, value: str) -> str | None:
    """Shift the numeric head of an HGVS cDNA coordinate string (``"500"``,
    ``"500+3"``…) by the misalignment offset; None = leave unchanged
    (reference adjust_refseq_cdna_component,
    transcript_consequence.rs:7798-7815)."""
    if use_cdna_mapper_for_general_coords(t) or not value or value == "?":
        return None
    split_idx = len(value)
    for i, ch in enumerate(value):
        if i > 0 and ch in "+-":
            split_idx = i
            break
    coord_part, suffix = value[:split_idx], value[split_idx:]
    try:
        coord = int(coord_part)
    except ValueError:
        return None
    offset = refseq_misalignment_offset_for_cdna(t, coord)
    if offset is None:
        return None
    return f"{coord + offset}{suffix}"


def transcript_cdna_coords(t: Transcript) -> list[tuple[int, int, int, int]]:
    """Genomic-sorted ``(start, end, cdna_start, cdna_end)`` segments — the
    accepted mapper's own segments, else exon geometry (reference
    transcript_cdna_coords, transcript_consequence.rs:6999-7064)."""
    if use_cdna_mapper_for_general_coords(t):
        return sorted(
            (
                (s.genomic_start, s.genomic_end, s.cdna_start, s.cdna_end)
                for s in t.cdna_mapper_segments
            ),
            key=lambda c: (c[0], c[1]),
        )
    exons = t.sorted_exons()
    if not exons:
        return []
    lens = [ee - es + 1 for es, ee in exons]
    coords = []
    if t.strand >= 0:
        off = 0
        for (es, ee), ln in zip(exons, lens):
            coords.append((es, ee, off + 1, off + ln))
            off += ln
    else:
        total = sum(lens)
        consumed = 0
        for (es, ee), ln in zip(exons, lens):
            cdna_end = total - consumed
            coords.append((es, ee, cdna_end - ln + 1, cdna_end))
            consumed += ln
    return coords


def raw_cdna_position_from_genomic(t: Transcript, pos: int) -> str | None:
    """Raw transcript cDNA numbering of a genomic position including
    intronic ``N+d`` / ``N-d`` offsets, mapper-aware (reference
    raw_cdna_position_from_genomic, transcript_consequence.rs:7066-7134).
    Native RefSeq rows first resolve deleted-edit bases to the deleted
    transcript position itself."""
    if prefers_exon_geometry_over_mapper(t):
        gap = mapper_deleted_gap_cdna_index(t, pos)
        if gap is not None:
            return str(gap)
        deleted = refseq_deleted_edit_cdna_index(t, pos)
        if deleted is not None:
            return str(deleted)
    coords = transcript_cdna_coords(t)
    if not coords:
        return None
    span_start = min(c[0] for c in coords)
    span_end = max(c[1] for c in coords)
    if pos < span_start or pos > span_end:
        return None
    for i, (seg_s, seg_e, cdna_s, cdna_e) in enumerate(coords):
        if pos > seg_e:
            continue
        if pos >= seg_s:
            coord = cdna_s + (pos - seg_s) if t.strand >= 0 else cdna_s + (seg_e - pos)
            return str(coord)
        prev_s, prev_e, prev_cs, prev_ce = coords[i - 1]
        updist = abs(pos - prev_e)
        downdist = abs(seg_s - pos)
        if updist < downdist or (updist == downdist and t.strand >= 0):
            if t.strand >= 0:
                return f"{prev_ce}+{updist}"
            return f"{prev_cs}-{updist}"
        if t.strand >= 0:
            return f"{cdna_s}-{downdist}"
        return f"{cdna_e}+{downdist}"
    return None


@dataclass
class HgvsShift:
    """Genomic 3'-shift state for an indel (reference ``HgvsGenomicShift``,
    hgvs.rs:33-50) — the flanking-sequence walk result Ensembl's
    ``_return_3prime()`` caches on the variation feature."""

    strand: int
    shift_length: int
    start: int
    end: int
    shifted_allele_string: str
    shifted_output_allele: str
    five_prime_flanking_seq: str = ""
    three_prime_flanking_seq: str = ""
    #: the ORIGINAL (parser-normalized) alleles the shift derives from
    ref_orig_allele_string: str = ""
    alt_orig_allele_string: str = ""
    #: "-" for deletions, the shifted allele for insertions (reference
    #: HgvsGenomicShift.shifted_compare_allele)
    shifted_compare_allele: str = ""
    #: genomic flank context at the SHIFTED site (reference
    #: HgvsGenomicShift.five/three_prime_context) — an insertion equal to
    #: either flank renders as a duplication of that flank
    #: (apply_shifted_insertion_duplication, hgvs.rs:987-1032)
    five_prime_context: str = ""
    three_prime_context: str = ""

    def display_start(self) -> int:
        # the reverse walk keeps the raw coordinates; the displayed span
        # applies the leftward (genomic) shift on minus strand (reference
        # HgvsGenomicShift::display_start, hgvs.rs:66-80)
        if self.strand >= 0:
            return self.start
        return self.start - self.shift_length

    def display_end(self) -> int:
        if self.strand >= 0:
            return self.end
        return self.end - self.shift_length


def perform_shift_ensembl(
    seq_to_check: str,
    hgvs_output: str,
    post_seq: str,
    pre_seq: str,
    var_start: int,
    var_end: int,
    reverse: bool,
    seq_strand: int,
) -> tuple[int, str, str, int, int]:
    """Ensembl's character-by-character indel 3'-shift walk (reference
    perform_shift_ensembl, hgvs.rs:1041-1150; Ensembl Variation
    ``_return_3prime``): roll the event allele along the flanking sequence
    while the next flank base equals the event's leading (or, reversed,
    trailing) base; the HGVS output allele rotates in the variation
    feature's own orientation."""
    check = list(seq_to_check)
    hgvs = list(hgvs_output)
    indel_length = len(check)
    shift_length = 0
    hgvs_reverse = seq_strand != 1
    start_n = 1 if reverse else 0
    if reverse:
        loop_limiter = (
            len(pre_seq)
            if indel_length > len(pre_seq)
            else len(pre_seq) - indel_length + 1
        )
    else:
        loop_limiter = (
            len(post_seq)
            if indel_length > len(post_seq)
            else len(post_seq) - indel_length
        )
    for n in range(start_n, loop_limiter + 1):
        if reverse:
            if not check:
                break
            check_next_del = check[-1]
            idx = len(pre_seq) - n
            if idx < 0 or idx >= len(pre_seq):
                break
            check_next_ref = pre_seq[idx]
            if not hgvs:
                break
            hgvs_next_del = hgvs[0] if hgvs_reverse else hgvs[-1]
        else:
            if not check:
                break
            check_next_del = check[0]
            if n >= len(post_seq):
                break
            check_next_ref = post_seq[n]
            if not hgvs:
                break
            hgvs_next_del = hgvs[-1] if hgvs_reverse else hgvs[0]
        if check_next_del != check_next_ref:
            break
        shift_length += 1
        if reverse:
            check.insert(0, check.pop())
            if hgvs_reverse:
                if hgvs:
                    hgvs.pop(0)
                hgvs.append(hgvs_next_del)
            else:
                hgvs.pop()
                hgvs.insert(0, hgvs_next_del)
        else:
            if check:
                check.pop(0)
            check.append(check_next_del)
            if hgvs_reverse:
                hgvs.pop()
                hgvs.insert(0, hgvs_next_del)
            else:
                if hgvs:
                    hgvs.pop(0)
                hgvs.append(hgvs_next_del)
            var_start += 1
            var_end += 1
    return shift_length, "".join(check), "".join(hgvs), var_start, var_end


def build_hgvs_genomic_shift(
    fetch,
    chrom: str,
    ref_allele: str,
    alt_allele: str,
    start: int,
    end: int,
    strand: int,
) -> "HgvsShift | None":
    """Genomic 3'-shift state for a simple indel, from a reference-genome
    lookup (reference ``build_hgvs_genomic_shift``, hgvs.rs:364-520;
    Ensembl ``TranscriptVariationAllele::_genomic_shift()``): expand the
    variant slice by 1000 bp both sides, roll the event allele along the
    flank with :func:`perform_shift_ensembl` (always on forward-strand
    coordinates), and capture the flank/context sequences Ensembl's
    transcript-HGVS duplication detection reads.

    ``fetch(chrom, start, end) -> str`` supplies 1-based inclusive genome
    sequence — pluggable (pyfaidx, a broadcast dict of contigs, a 2bit
    reader), since this engine does not bundle a FASTA codec.  Alleles and
    coordinates must already be VEP-normalized (``vcf_to_vep_allele`` /
    ``vep_norm_start``/``vep_norm_end``), matching the reference provider's
    call site (annotate_provider.rs:4126-4150, which builds one shift per
    strand sign for every indel).  Returns None for non-indels."""
    if ref_allele == "-" and alt_allele and alt_allele != "-":
        seq_to_check, is_ins = alt_allele, True
    elif alt_allele == "-" and ref_allele and ref_allele != "-":
        seq_to_check, is_ins = ref_allele, False
    else:
        return None
    hgvs_output = alt_allele
    area = 1000
    pre_end = start - 1
    pre_start = max(pre_end - area + 1, 1)
    post_start = end + 1
    post_end = post_start + area - 1
    pre_seq = (
        str(fetch(chrom, pre_start, pre_end)).upper()
        if pre_end >= pre_start and pre_end > 0
        else ""
    )
    post_seq = (
        str(fetch(chrom, post_start, post_end)).upper()
        if post_end >= post_start and post_start > 0
        else ""
    )
    # Ensembl always passes seq_strand=1 to the genomic perform_shift —
    # the shift is computed on forward-strand coordinates
    shift_length, shifted_seq, shifted_out, s_start, s_end = perform_shift_ensembl(
        seq_to_check, hgvs_output, post_seq, pre_seq, start, end, strand < 0, 1
    )
    inserted_len = len(shifted_out)
    display_start = s_start if strand >= 0 else s_start - shift_length
    five_ctx = three_ctx = ""
    if is_ins and inserted_len > 0:
        # adjacent reference sequence on the transcript 5'/3' sides of the
        # shifted insertion point — the dup-detection inputs (hgvs.rs:460)
        if strand >= 0:
            f_s, f_e = max(display_start - inserted_len, 1), max(display_start - 1, 0)
            t_s, t_e = display_start, display_start + inserted_len - 1
        else:
            f_s, f_e = display_start, display_start + inserted_len - 1
            t_s, t_e = max(display_start - inserted_len, 1), max(display_start - 1, 0)
        five_ctx = str(fetch(chrom, f_s, f_e)).upper() if f_e >= f_s and f_e > 0 else ""
        three_ctx = str(fetch(chrom, t_s, t_e)).upper() if t_e >= t_s and t_e > 0 else ""
    return HgvsShift(
        strand=strand,
        shift_length=shift_length,
        start=s_start,
        end=s_end,
        shifted_allele_string=shifted_seq,
        shifted_compare_allele=shifted_seq if is_ins else "-",
        shifted_output_allele=shifted_out,
        ref_orig_allele_string=ref_allele,
        alt_orig_allele_string=alt_allele,
        five_prime_flanking_seq=(
            "" if shift_length == 0 else pre_seq[-(shift_length + 1) :]
        ),
        three_prime_flanking_seq=(
            "" if shift_length == 0 else post_seq[: shift_length + 1]
        ),
        five_prime_context=five_ctx,
        three_prime_context=three_ctx,
    )


def unshifted_cdna_bounds_for_hgvs_shift(
    t: Transcript, variant_start: int, variant_end: int, ref: str, alt: str
) -> tuple[int, int] | None:
    """Unshifted transcript-sequence cDNA bounds Ensembl uses when
    generating HGVS 3' shifts (reference
    unshifted_cdna_bounds_for_hgvs_shift, transcript_consequence.rs:7135-7205).
    Insertions map both flanks (synthesizing a missing flank ±1 by strand,
    or bridging between segments when both miss); deletions map both ends."""
    coords = transcript_cdna_coords(t)
    if not coords:
        return None
    is_ins = ref in ("-", "") and alt not in ("-", "")
    is_del = alt in ("-", "") and ref not in ("-", "")
    if is_ins:
        left = genomic_to_cdna_index_for_transcript(t, variant_start - 1)
        right = genomic_to_cdna_index_for_transcript(t, variant_start)
        if left is not None and right is not None:
            return min(left, right), max(left, right)
        if right is not None:
            other = right - 1 if t.strand >= 0 else right + 1
            return min(other, right), max(other, right)
        if left is not None:
            other = left + 1 if t.strand >= 0 else left - 1
            return min(left, other), max(left, other)
        prev_seg = None
        for c in coords:
            if c[1] < variant_start:
                prev_seg = c
            else:
                break
        next_seg = next((c for c in coords if c[0] > variant_start), None)
        if prev_seg is None or next_seg is None:
            return None
        if t.strand >= 0:
            return prev_seg[3], next_seg[2]
        return next_seg[3], prev_seg[2]
    if is_del:
        s = genomic_to_cdna_index_for_transcript(t, variant_start)
        e = genomic_to_cdna_index_for_transcript(t, variant_end)
        if s is None or e is None:
            return None
        return min(s, e), max(s, e)
    return None


def refseq_transcript_shift_for_hgvs_protein(
    t: Transcript, variant_start: int, variant_end: int, ref: str, alt: str,
    existing: "HgvsShift | None" = None,
) -> HgvsShift | None:
    """Edited-RefSeq transcript-sequence 3' shift for protein HGVS
    (reference refseq_transcript_shift_for_hgvs_protein,
    transcript_consequence.rs:4631-4805).  ``existing`` is the
    precomputed GENOMIC shift for the transcript strand: Ensembl's
    ``_return_3prime()`` reuses it — skipping the transcript-sequence
    recomputation — when the edited transcript's flanking sequence around
    the variant still matches the genomic shift's cached flanks (or the
    window cannot even be cut to the expected length).  None when the
    transcript has no real coding-overlapping edit evidence, the event is
    not a pure indel, or the flanking window is unreadable."""
    if not refseq_uses_transcript_shift_for_hgvsp(t):
        return None
    is_insertion = ref in ("-", "") and alt not in ("-", "")
    is_deletion = alt in ("-", "") and ref not in ("-", "")
    if not is_insertion and not is_deletion:
        return None
    seq = t.spliced_seq if t.spliced_seq is not None else t.cdna_seq
    if seq is None:
        return None
    seq = seq.upper()
    bounds = unshifted_cdna_bounds_for_hgvs_shift(t, variant_start, variant_end, ref, alt)
    if bounds is None:
        return None
    cdna_lo, cdna_hi = bounds
    if is_insertion:
        start_cdna, end_cdna = cdna_hi, cdna_lo
    else:
        start_cdna, end_cdna = cdna_lo, cdna_hi
    if existing is not None:
        # existing-genomic-shift reuse branch (reference rs:4664-4705):
        # cut the transcript window around the unshifted cDNA span, flip it
        # back to genomic forward orientation, and keep the genomic shift
        # when its cached flanks still match the (edited) transcript
        sl = existing.shift_length
        whole_start = max(start_cdna - sl - 2, 0)
        whole_len = max((end_cdna - start_cdna + 1) + 2 * (sl + 1), 0)
        whole_end = min(whole_start + whole_len, len(seq))
        whole_seq = seq[whole_start:whole_end]
        if t.strand != 1:
            whole_seq = revcomp(whole_seq).upper()
        expected_len = (
            2 * (sl + 1)
            if is_insertion
            else 2 * (sl + 1) + len(existing.shifted_allele_string)
        )
        if len(whole_seq) != expected_len:
            return existing
        flank = sl + 1
        if (
            whole_seq[:flank].upper()
            == existing.five_prime_flanking_seq.upper()
            and whole_seq[-flank:].upper()
            == existing.three_prime_flanking_seq.upper()
        ):
            return existing
    area = 1000
    search_start = max(start_cdna - area - 1, 0)
    search_end = min(end_cdna + area, len(seq))
    if search_end < search_start:
        return None
    seqs = seq[search_start:search_end]
    pre_len = start_cdna - search_start - 1
    if pre_len < 0:
        return None
    post_suffix_len = search_end - end_cdna
    if post_suffix_len < 0 or post_suffix_len > len(seqs):
        return None
    pre_seq = seqs[:pre_len]
    post_seq = seqs[len(seqs) - post_suffix_len :]
    seq_to_check = alt if is_insertion else ref
    if t.strand != 1:
        seq_to_check = revcomp(seq_to_check).upper()
    else:
        seq_to_check = seq_to_check.upper()
    hgvs_output = ("" if alt in ("-",) else alt).upper()
    shift_length, shifted_seq, shifted_hgvs_output, _, _ = perform_shift_ensembl(
        seq_to_check, hgvs_output, post_seq, pre_seq,
        start_cdna, end_cdna, t.strand < 0, t.strand,
    )
    shift_delta = shift_length if t.strand >= 0 else -shift_length
    flank_len = shift_length + 1
    return HgvsShift(
        strand=t.strand,
        shift_length=shift_length,
        start=variant_start + shift_delta,
        end=variant_end + shift_delta,
        shifted_allele_string=shifted_seq,
        shifted_output_allele=shifted_hgvs_output,
        five_prime_flanking_seq="" if shift_length == 0 else pre_seq[-flank_len:],
        three_prime_flanking_seq="" if shift_length == 0 else post_seq[:flank_len],
        ref_orig_allele_string=ref,
        alt_orig_allele_string=alt,
        shifted_compare_allele=shifted_seq if is_insertion else "-",
    )


@dataclass
class ShiftedVariant:
    """A variant after the protein-HGVS 3' shift (reference
    protein_hgvs_shifted_variant's VariantInput result): VEP-normalized
    alleles plus the raw parser alleles/coordinates the peptide replay
    reads."""

    start: int
    end: int
    ref: str
    alt: str
    parser_start: int
    parser_end: int
    parser_ref: str
    parser_alt: str


def rotate_hgvs_protein_allele(allele: str, shift_length: int, strand: int) -> str:
    """Rotate an allele by the genomic shift length in transcript
    orientation (reference rotate_hgvs_protein_allele,
    transcript_consequence.rs:5102-5118)."""
    if allele == "-" or not allele:
        return allele
    n = len(allele)
    rot = shift_length % n
    if strand < 0 and rot != 0:
        rot = n - rot
    if rot == 0:
        return allele
    return allele[rot:] + allele[:rot]


def protein_hgvs_shifted_variant(
    start: int, end: int, ref: str, alt: str,
    parser_start: int, parser_end: int, parser_ref: str, parser_alt: str,
    shift: HgvsShift, strand: int,
) -> ShiftedVariant:
    """Apply the genomic shift to a variant for the protein-HGVS replay
    (reference protein_hgvs_shifted_variant,
    transcript_consequence.rs:5013-5064): deletions jump to the shifted
    span with the shifted deleted bases; others rotate the parser alleles
    by the shift in transcript orientation."""
    ref_norm = "" if ref in ("-", None) else ref
    alt_norm = "" if alt in ("-", None) else alt
    if ref_norm and not alt_norm:
        s, e = shift.display_start(), shift.display_end()
        sref = shift.shifted_allele_string
        return ShiftedVariant(s, e, sref, "-", s, e, sref, "-")
    shifted_ref = rotate_hgvs_protein_allele(parser_ref, shift.shift_length, strand)
    shifted_alt = rotate_hgvs_protein_allele(parser_alt, shift.shift_length, strand)
    delta = shift.shift_length if strand >= 0 else -shift.shift_length
    s, e = parser_start + delta, parser_end + delta
    return ShiftedVariant(s, e, shifted_ref, shifted_alt, s, e, shifted_ref, shifted_alt)


def protein_hgvs_shifted_variant_for_reference(
    t: Transcript,
    start: int, end: int, ref: str, alt: str,
    parser_start: int, parser_end: int, parser_ref: str, parser_alt: str,
    shift: HgvsShift,
) -> ShiftedVariant:
    """Canonical-CDS twin: when HGVSp works against the canonical cache on
    an edit-shifted RefSeq row, the rotated alt keeps only its canonical
    length — the ``_rna_edit`` prefix is trimmed (reference
    protein_hgvs_shifted_variant_for_reference,
    transcript_consequence.rs:5066-5100)."""
    sv = protein_hgvs_shifted_variant(
        start, end, ref, alt, parser_start, parser_end, parser_ref, parser_alt,
        shift, t.strand,
    )
    if (
        t.cds_sequence_canonical is None
        or not refseq_uses_transcript_shift_for_hgvsp(t)
        or not shift.ref_orig_allele_string
    ):
        return sv
    canonical_alt_len = len("" if alt in ("-", None) else alt)
    if canonical_alt_len == 0:
        return sv
    for field_name in ("alt", "parser_alt"):
        allele = getattr(sv, field_name)
        if allele == "-":
            continue
        trim_len = len(allele) - canonical_alt_len
        if trim_len <= 0 or len(allele) <= trim_len:
            continue
        setattr(sv, field_name, allele[trim_len:])
    return sv


def edited_transcript_reference_allele(
    t: Transcript, vs: int, ve: int, ref: str
) -> str | None:
    """Reference allele read FROM the edited transcript sequence — the
    VEP USED_REF value when it differs from the genome (reference
    edited_transcript_reference_allele, transcript_consequence.rs:7482-7517).
    Returns the transcript-strand bases; the caller reverse-complements on
    minus strand."""
    if not uses_refseq_transcript_reference(t):
        return None
    allele = "" if ref in ("-", None) else ref
    if not allele:
        return None
    seq = t.spliced_seq if t.spliced_seq is not None else t.cdna_seq
    if seq is None:
        return None
    lo, hi = (vs, ve) if vs <= ve else (ve, vs)
    positions = list(range(lo, hi + 1))
    if len(positions) != len(allele):
        return None
    cdna_positions = []
    for pos in positions:
        raw = genomic_to_cdna_index_for_transcript(t, pos)
        if raw is None:
            return None
        cdna = edited_transcript_sequence_cdna_index(t, raw)
        if cdna is None or cdna == 0 or cdna > len(seq):
            return None
        cdna_positions.append(cdna)
    cdna_positions.sort()
    return "".join(seq[c - 1].upper() for c in cdna_positions)


def used_ref_for_transcript_variant(
    t: Transcript,
    vs: int,
    ve: int,
    ref: str,
    alt: str | None = None,
    genomic_shift: "HgvsShift | None" = None,
    use_shifted_deleted_ref: bool = False,
) -> str | None:
    """VEP USED_REF: on the protein-HGVS path a shifted DELETION reports
    the 3'-shifted deleted bases; otherwise the edited-transcript
    reference allele when readable and length-matching, else the given
    genomic REF (reference used_ref_for_transcript_variant,
    transcript_consequence.rs:7360-7398)."""
    given = "" if ref in ("-", None) else ref.upper()
    if not given:
        return None
    if use_shifted_deleted_ref and alt in ("-", "") and genomic_shift is not None:
        shifted = genomic_shift.shifted_allele_string.upper()
        if shifted and shifted != "-" and len(shifted) == len(given):
            return shifted
    transcript_ref = edited_transcript_reference_allele(t, vs, ve, ref)
    if transcript_ref is None or len(transcript_ref) != len(given):
        return given
    return transcript_ref if t.strand >= 0 else revcomp(transcript_ref).upper()


def _genomic_to_cds_offset(t: Transcript, pos: int) -> int | None:
    """0-based offset of genomic ``pos`` within the spliced CDS, or None if
    the position is not coding."""
    if t.cds_start is None or t.cds_end is None:
        return None
    if pos < t.cds_start or pos > t.cds_end:
        return None
    off = 0
    for es, ee in t.sorted_exons():
        s, e = max(es, t.cds_start), min(ee, t.cds_end)
        if s > e:
            continue
        if pos < s:
            return None  # intronic inside CDS span
        if pos <= e:
            off += pos - s
            break
        off += e - s + 1
    else:
        return None
    if t.strand >= 0:
        return off
    total = sum(
        max(0, min(ee, t.cds_end) - max(es, t.cds_start) + 1) for es, ee in t.sorted_exons()
    )
    return total - 1 - off


# ---------------------------------------------------------------------------
# consequence classification — exact re-expression of the reference engine's
# evaluation (transcript_consequence.rs:801-1360 evaluate_transcript_overlap /
# upstream_downstream_term / add_intron_splice_terms / add_coding_terms /
# strip_parent_terms), which itself replays Ensembl VEP release/115 predicate
# semantics (URLs cited in the reference)
# ---------------------------------------------------------------------------

#: biotypes VEP treats as *coding* (everything else is a non-coding
#: transcript; reference is_non_coding_biotype, transcript_consequence.rs:3020)
_CODING_BIOTYPES = {
    "protein_coding", "nonsense_mediated_decay", "non_stop_decay",
    "protein_coding_LoF", "IG_C_gene", "IG_D_gene", "IG_J_gene", "IG_V_gene",
    "TR_C_gene", "TR_D_gene", "TR_J_gene", "TR_V_gene",
    "polymorphic_pseudogene",
}


def is_non_coding_biotype(biotype: str) -> bool:
    return biotype not in _CODING_BIOTYPES


def _overlaps(a_s: int, a_e: int, b_s: int, b_e: int) -> bool:
    return a_s <= b_e and b_s <= a_e


def _is_start_codon(allele: str) -> bool:
    return allele.upper() == "ATG"


def _is_stop_codon(allele: str) -> bool:
    return allele.upper() in ("TAA", "TAG", "TGA", "*")


def normalize_variant(pos: int, ref: str, alt: str) -> tuple[int, int, str, str, bool]:
    """VCF → VEP variant normalization (reference ``VariantInput::from_vcf``,
    transcript_consequence.rs:30-110): trim the shared prefix, and — for
    length-changing alleles only — the shared suffix.  Returns
    ``(start, end, ref, alt, is_insertion)`` with empty-string alleles for
    pure ins/del; a pure insertion reports ``start == end`` = the first
    position after the anchor base (the insertion point ``P``)."""
    ref = "" if ref in ("-", None) else str(ref)
    alt = "" if alt in ("-", None) else str(alt)
    prefix = 0
    for x, y in zip(ref, alt):
        if x != y:
            break
        prefix += 1
    # identical alleles, or same-length substitution with no shared prefix:
    # VEP leaves the variant untouched
    if (prefix == len(ref) and prefix == len(alt)) or (
        prefix == 0 and len(ref) == len(alt)
    ):
        return pos, pos + max(len(ref) - 1, 0), ref, alt, len(ref) == 0
    r, a = ref[prefix:], alt[prefix:]
    suffix = 0
    if len(r) != len(a):
        m = min(len(r), len(a))
        while suffix < m and r[len(r) - 1 - suffix] == a[len(a) - 1 - suffix]:
            suffix += 1
    if suffix:
        r, a = r[: len(r) - suffix], a[: len(a) - suffix]
    vs = pos + prefix
    ve = vs if not r else vs + len(r) - 1
    return vs, ve, r, a, not r


def _introns(exons: list[tuple[int, int]]) -> list[tuple[int, int]]:
    out = []
    for i in range(len(exons) - 1):
        s, e = exons[i][1] + 1, exons[i + 1][0] - 1
        if s <= e:
            out.append((s, e))
    return out


def _feature_overlaps(is_ins: bool, vs: int, ve: int, fs: int, fe: int) -> bool:
    """VEP within_feature semantics: an insertion requires both flanks inside
    the feature (reference feature_overlaps, transcript_consequence.rs:2997)."""
    if is_ins:
        return vs > fs and vs <= fe
    return _overlaps(vs, ve, fs, fe)


def _variant_overlaps_intron(
    t: "Transcript", vs: int, ve: int, is_ins: bool
) -> bool:
    """Intron-body hit for the ``intron_variant`` term: excludes frameshift
    introns (≤13 bp) and the 2 bp splice sites at either end (reference
    variant_hits_intron_body, transcript_consequence.rs:8123)."""
    for is_, ie in t.introns():
        if ie - is_ <= 12:
            continue
        inner_s, inner_e = is_ + 2, ie - 2
        if inner_s > inner_e:
            continue
        if is_ins:
            if inner_s <= vs <= inner_e + 1:
                return True
        elif _overlaps(vs, ve, inner_s, inner_e):
            return True
    return False


def _in_frameshift_intron(t: "Transcript", vs: int, ve: int) -> bool:
    return any(
        ie - is_ <= 12 and _overlaps(vs, ve, is_, ie) for is_, ie in t.introns()
    )


def _is_complex_indel(t: "Transcript", vs: int, ve: int) -> bool:
    """Deletion extending beyond an exon into a non-frameshift intron: VEP
    cannot map it through the CDS — ``coding_sequence_variant`` only
    (reference is_complex_indel, transcript_consequence.rs:1849)."""
    introns = t.introns()
    for es, ee in t.sorted_exons():
        if not _overlaps(vs, ve, es, ee):
            continue
        if vs < es or ve > ee:
            for is_, ie in introns:
                if (ie == es - 1 or is_ == ee + 1) and _overlaps(vs, ve, is_, ie):
                    if ie - is_ > 12:
                        return True
    return False


def _coding_segments(t: Transcript) -> list[tuple[int, int]]:
    if t.cds_start is None or t.cds_end is None:
        return []
    segs = []
    for es, ee in t.sorted_exons():
        s, e = max(es, t.cds_start), min(ee, t.cds_end)
        if s <= e:
            segs.append((s, e))
    return segs


def _add_intron_splice_terms(
    terms: set, t: Transcript, vs: int, ve: int, is_ins: bool
) -> None:
    """Splice-site terms with VEP's exact boundary windows (reference
    add_intron_splice_terms + add_splice_for_intron_{positive,negative},
    transcript_consequence.rs:2578-2980):

    * donor = first 2 intronic bases (transcript 5' end of the intron),
      acceptor = last 2; donor 5th base; donor region = intronic 3-6;
      splice_region = intronic 3-8 both sides + the first/last 3 exonic
      bases; polypyrimidine tract = intronic 3-17 of the acceptor side,
      intronic variants only.
    * frameshift introns (≤13 bp): skipped when the variant overlaps the
      intron body.
    * insertions use the point rules derived from VEP's inverted
      (start, start-1) overlap algebra.
    """
    exons = t.sorted_exons()
    if len(exons) < 2:
        return
    svmin, svmax = (vs, ve) if vs <= ve else (ve, vs)
    introns = t.introns()
    has_fs_intron = any(ie - is_ <= 12 for is_, ie in introns)
    stretch = 12 if has_fs_intron else 0
    allow_ppt = any(_overlaps(svmin, svmax, is_, ie) for is_, ie in introns) and not any(
        _overlaps(svmin, svmax, es - stretch, ee + stretch) for es, ee in exons
    )

    for is_, ie in introns:
        fs_intron = ie - is_ <= 12
        if is_ins:
            in_body = is_ < vs <= ie
        else:
            in_body = _overlaps(svmin, svmax, is_, ie)
        if fs_intron and in_body:
            continue
        bmin, bmax = min(is_ - 4, ie - 8), max(ie + 3, is_ + 7)
        if not _overlaps(svmin, svmax, bmin, bmax):
            continue

        if is_ins:
            p = vs
            if t.strand >= 0:
                if p == is_ + 1:
                    terms.add("splice_donor_variant")
                if is_ + 3 <= p <= is_ + 5:
                    terms.add("splice_donor_region_variant")
                if p == ie:
                    terms.add("splice_acceptor_variant")
                if ie - 16 <= p <= ie - 1:
                    terms.add("splice_polypyrimidine_tract_variant")
            else:
                if p == ie:
                    terms.add("splice_donor_variant")
                if ie - 4 <= p <= ie - 2:
                    terms.add("splice_donor_region_variant")
                if p == is_ + 1:
                    terms.add("splice_acceptor_variant")
                if is_ + 2 <= p <= is_ + 17:
                    terms.add("splice_polypyrimidine_tract_variant")
            if (
                is_ + 3 <= p <= is_ + 7
                or ie - 6 <= p <= ie - 2
                or is_ - 2 <= p <= is_ - 1
                or ie + 2 <= p <= ie + 3
                or p in (is_, ie + 1, is_ + 2, ie - 1)
            ):
                terms.add("splice_region_variant")
            continue

        def hit(ws: int, we: int) -> bool:
            return _overlaps(svmin, svmax, ws, we)

        if t.strand >= 0:
            if hit(is_, is_ + 1):
                terms.add("splice_donor_variant")
            if hit(is_ + 4, is_ + 4):
                terms.add("splice_donor_5th_base_variant")
            if hit(is_ + 2, is_ + 5):
                terms.add("splice_donor_region_variant")
            if hit(ie - 1, ie):
                terms.add("splice_acceptor_variant")
            if svmin >= is_ and svmax <= ie and hit(ie - 16, ie - 2):
                terms.add("splice_polypyrimidine_tract_variant")
        else:
            if hit(ie - 1, ie):
                terms.add("splice_donor_variant")
            if hit(ie - 4, ie - 4):
                terms.add("splice_donor_5th_base_variant")
            if hit(ie - 5, ie - 2):
                terms.add("splice_donor_region_variant")
            if hit(is_, is_ + 1):
                terms.add("splice_acceptor_variant")
            if svmin >= is_ and svmax <= ie and hit(is_ + 2, is_ + 16):
                terms.add("splice_polypyrimidine_tract_variant")
        # splice_region (strand-independent): intronic 3-8 both sides +
        # first/last 3 exonic bases
        if (
            hit(is_ + 2, is_ + 7)
            or hit(ie - 7, ie - 2)
            or hit(is_ - 3, is_ - 1)
            or hit(ie + 1, ie + 3)
        ):
            terms.add("splice_region_variant")

    if not allow_ppt:
        terms.discard("splice_polypyrimidine_tract_variant")


def _upstream_downstream_term(
    t: Transcript, vs: int, ve: int, is_ins: bool, up: int, down: int
) -> tuple[str | None, int | None]:
    """Up/downstream term + DISTANCE for a variant outside the transcript
    (reference upstream_downstream_term, transcript_consequence.rs:2395).
    Insertions evaluate against their left coordinate (``P-1``), keeping an
    insertion at exactly start-(up+1) outside the window."""
    check_start = vs - 1 if is_ins else vs
    before_end = vs - 1 if is_ins else ve
    if t.strand >= 0:
        if t.start - up <= before_end < t.start:
            return "upstream_gene_variant", max(t.start - ve, 0)
        if _overlaps(check_start, ve, t.end + 1, t.end + down):
            return "downstream_gene_variant", max(check_start - t.end, 0)
    else:
        if _overlaps(check_start, ve, t.end + 1, t.end + up):
            return "upstream_gene_variant", max(check_start - t.end, 0)
        if t.start - down <= before_end < t.start:
            return "downstream_gene_variant", max(t.start - ve, 0)
    return None, None


def _utr_term(t: Transcript, vs: int, ve: int, is_ins: bool) -> str | None:
    """5'/3' UTR term for an exonic variant outside the CDS (reference
    utr_term, transcript_consequence.rs:2345-2392)."""
    cs, ce = t.cds_start, t.cds_end
    if cs is None or ce is None:
        return None
    if t.strand >= 0:
        if (is_ins and vs <= cs) or (not is_ins and ve < cs):
            return "5_prime_UTR_variant"
        if (is_ins and vs >= ce) or (not is_ins and vs > ce):
            return "3_prime_UTR_variant"
    else:
        if (is_ins and vs <= cs) or (not is_ins and ve < cs):
            return "3_prime_UTR_variant"
        if (is_ins and vs >= ce) or (not is_ins and vs > ce):
            return "5_prime_UTR_variant"
    return None


def _utr_boundary_insertion_term(
    t: Transcript, vs: int, exons: list[tuple[int, int]]
) -> str | None:
    """VEP _before_coding/_after_coding: an insertion at an exon boundary on
    the UTR side of the CDS gets a UTR term even though it does not overlap
    the exon (reference utr_boundary_insertion_term)."""
    cs, ce = t.cds_start, t.cds_end
    if cs is None or ce is None:
        return None
    if not any(vs == ee + 1 or vs == es for es, ee in exons):
        return None
    if t.strand >= 0:
        if vs > ce:
            return "3_prime_UTR_variant"
        if vs <= cs:
            return "5_prime_UTR_variant"
    else:
        if vs < cs:
            return "3_prime_UTR_variant"
        if vs > ce:
            return "5_prime_UTR_variant"
    return None


def _start_stop_heuristic_terms(
    terms: set, t: Transcript, vs: int, ve: int, ref: str, alt: str
) -> None:
    """Positional start/stop terms when no codon-level classification is
    available (reference add_start_stop_heuristic_terms,
    transcript_consequence.rs:2140-2260; VEP TranscriptVariationAllele
    start_lost/stop_lost/stop_gained)."""
    cs, ce = t.cds_start, t.cds_end
    if cs is None or ce is None:
        return
    is_indel = len(ref) != len(alt)
    # the reference heuristic sees the VEP-NORMALIZED variant, and its
    # overlap() normalizes BOTH ranges — so a raw anchored insertion
    # between the last UTR base and the start codon still fires the
    # cascade (reference overlaps(), transcript_consequence.rs:2975-2990;
    # round 9, verified on the differential grid).  Allele-identity checks
    # below keep the CALLER's raw alleles (whole-codon MNV stop identity,
    # rs:9981).
    nvs0, nve0, _nr0, _na0, _ = normalize_variant(vs, ref, alt)
    svmin, svmax = (nvs0, nve0) if nvs0 <= nve0 else (nve0, nvs0)
    if not t.cds_start_nf:
        s, e = (cs, cs + 2) if t.strand >= 0 else (ce - 2, ce)
        if _overlaps(svmin, svmax, s, e):
            if _is_start_codon(ref) and _is_start_codon(alt):
                terms.add("start_retained_variant")
            elif is_indel:
                # reference cascade (transcript_consequence.rs:2174-2216):
                # cDNA-space check → mutated-CDS first-codon fallback →
                # position-based fallback
                nvs, nve, nref, nalt, _ = normalize_variant(vs, ref, alt)
                fs = abs(len(nref) - len(nalt)) % 3 != 0
                r = ins_del_start_altered(t, nvs, nve, nref, nalt)
                if r is None and t.cds_sequence and len(t.cds_sequence) >= 3:
                    first3 = _mutated_cds_first3(t, nvs, nve, nref, nalt)
                    if first3 is not None:
                        r = first3 != "ATG"
                if r is False:
                    terms.add("start_retained_variant")
                    if fs:
                        terms.add("start_lost")
                elif r is True:
                    terms.add("start_lost")
                else:
                    # no sequence context: an indel whose affected bases all
                    # fall after the start codon keeps it
                    start_codon_end = cs + 2 if t.strand >= 0 else ce
                    if vs > start_codon_end:
                        terms.add("start_retained_variant")
                    else:
                        terms.add("start_lost")
            else:
                terms.add("start_lost")
    s, e = (ce - 2, ce) if t.strand >= 0 else (cs, cs + 2)
    if _overlaps(svmin, svmax, s, e):
        if _is_stop_codon(ref) and _is_stop_codon(alt):
            terms.add("stop_retained_variant")
        elif is_indel and t.cds_sequence and len(t.cds_sequence) >= 3:
            # VEP _ins_del_stop_altered: CDS + 3'UTR concat, mutate, check
            # the codon at the original stop position (issue #90 boundary
            # deletions rebuilt from UTR bases)
            nvs, nve, nref, nalt, _ = normalize_variant(vs, ref, alt)
            if mutated_cds_stop_preserved(t, nvs, nve, nref, nalt):
                terms.add("stop_retained_variant")
            else:
                terms.add("stop_lost")
        elif not is_indel and not _is_stop_codon(ref) and _is_stop_codon(alt):
            terms.add("stop_gained")
        else:
            terms.add("stop_lost")


def _leading_n(seq: str) -> int:
    n = 0
    while n < len(seq) and seq[n] in "Nn":
        n += 1
    return n


def _classify_substitution(t: Transcript, vs: int, ref: str, alt: str) -> set[str] | None:
    """Codon-accurate terms for a same-length substitution fully inside the
    CDS, given ``cds_sequence``.  None → the change could not be mapped."""
    cds = t.cds_sequence.upper()
    lead = _leading_n(t.cds_sequence)
    off = _genomic_to_cds_offset(t, vs)
    if off is None:
        return None
    if any(
        _nm_raw_cdna_outside_coding(t, p) for p in range(vs, vs + len(ref))
    ):
        return None
    if len(ref) > 1:
        # every touched base must map to CONTIGUOUS spliced-CDS offsets —
        # an MNV crossing an exon|intron boundary cannot classify at the
        # codon level (reference refuses these; round 9, differential grid)
        offs = [_genomic_to_cds_offset(t, p) for p in range(vs, vs + len(ref))]
        if any(o is None for o in offs):
            return None
        so = sorted(offs)
        if so[-1] - so[0] != len(ref) - 1:
            return None
    off += lead
    var_ref = ref.upper() if t.strand >= 0 else revcomp(ref.upper())
    var_alt = alt.upper() if t.strand >= 0 else revcomp(alt.upper())
    if t.strand < 0:
        off = off - (len(var_ref) - 1)
        if off < 0:
            return None
    # RefSeq misalignment: shift the raw exon-geometry index into the
    # edited-sequence space the cached CDS lives in (reference
    # classify_coding_change, transcript_consequence.rs:5267-5271)
    adj = adjust_refseq_cds_sequence_index(t, off, lead)
    if adj is not None:
        off = adj
    if off + len(var_ref) > len(cds):
        return {"incomplete_terminal_codon_variant"}
    # the EDITED transcript reference takes precedence on RefSeq rows whose
    # sequence was BAM/_rna_edit-modified: patch the CDS slice to the
    # transcript's own bases, then apply the alt (reference
    # classify_coding_change, transcript_consequence.rs:5300-5318, pinned
    # by transcript_consequence_uses_edited_refseq_reference_...)
    effective_ref = var_ref
    if var_ref and uses_refseq_transcript_reference(t):
        edited = edited_transcript_reference_allele(t, vs, vs + len(ref) - 1, ref)
        if edited is not None and len(edited) == len(var_ref):
            effective_ref = edited.upper()
    if var_ref and cds[off : off + len(var_ref)] != effective_ref:
        if effective_ref == var_ref:
            return None  # reference mismatch — positional classification only
        cds = cds[:off] + effective_ref + cds[off + len(var_ref) :]
    new_cds = cds[:off] + var_alt + cds[off + len(var_ref) :]
    protein = translate(cds)
    # failed BAM-edit RefSeq rows: the cached translation is the trusted
    # REFERENCE protein (raw CDS translations of failed edits can carry
    # spurious internal stops; reference reference_aas_for_consequence)
    cached = failed_refseq_cached_protein(t, cds)
    if cached is not None:
        protein = cached
    new_protein = translate(new_cds)

    # reference same-length decision rules (classify_coding_change,
    # transcript_consequence.rs:5337-5640) — round 9: the previous code
    # examined ONLY the first touched codon, so an MNV spanning a codon
    # boundary whose first codon stayed synonymous mis-classified the
    # whole event, and a codon-1 change creating a stop returned
    # start_lost without the co-fired stop_gained.  All rules below are
    # verified against the reference implementation on the differential
    # grid.
    start_idx = off
    end_idx = off + len(var_ref) - 1
    first_codon = start_idx // 3
    last_codon = end_idx // 3
    if first_codon >= len(protein) or first_codon >= len(new_protein):
        return None
    terms: set[str] = set()
    # start-codon block (rs:5360-5372): start_retained = new first AA Met
    # (nucleotide-level), start_lost = first AA changed (peptide-level);
    # they CO-FIRE for GTG→ATG, and do NOT return early — stop logic and
    # the guarded missense/synonymous fallthrough still run
    if start_idx < 3 and not t.cds_start_nf:
        if new_protein[:1] == "M":
            terms.add("start_retained_variant")
        if protein[:1] != new_protein[:1]:
            terms.add("start_lost")
    skip_global = cached is not None
    old_stop = protein.find("*")
    new_stop = new_protein.find("*")
    # stop_retained: an unmoved global stop whose codon the variant touches
    if (
        old_stop >= 0
        and new_stop == old_stop
        and start_idx <= old_stop * 3 + 2
        and end_idx >= old_stop * 3
    ):
        terms.add("stop_retained_variant")
    # global first-stop comparison (skipped on failed-RefSeq cached rows,
    # whose raw translation carries spurious internal stops)
    if not skip_global:
        if old_stop >= 0 and new_stop >= 0:
            if new_stop < old_stop and not (
                start_idx <= old_stop * 3 + 2 and end_idx >= old_stop * 3
            ):
                terms.add("stop_gained")
            elif new_stop > old_stop and (
                start_idx <= old_stop * 3 + 2 and end_idx >= old_stop * 3
            ):
                terms.add("stop_lost")
        elif old_stop >= 0 and new_stop < 0:
            if start_idx <= old_stop * 3 + 2 and end_idx >= old_stop * 3:
                terms.add("stop_lost")
        elif old_stop < 0 and new_stop >= 0:
            terms.add("stop_gained")
    # per-codon window (rs:5545-5585): local stop transitions
    for ci in range(first_codon, last_codon + 1):
        if ci >= len(protein) or ci >= len(new_protein):
            continue
        old_aa, new_aa = protein[ci], new_protein[ci]
        if old_aa != "*" and new_aa == "*":
            terms.add("stop_gained")
        elif old_aa == "*" and new_aa != "*":
            terms.add("stop_lost")
        elif old_aa == "*" and new_aa == "*":
            terms.add("stop_retained_variant")
    # guarded missense/synonymous fallthrough (rs:5588-5640): X-containing
    # or past-end windows suppress both (incomplete terminal codons).
    # Cached-protein rows compare only the touched WINDOW (reference
    # use_display_peptide_window) — the raw mutated translation still
    # carries the spurious internal stops absent from the trusted cache
    if skip_global:
        aa_changed = any(
            protein[ci : ci + 1] != new_protein[ci : ci + 1]
            for ci in range(first_codon, last_codon + 1)
        )
    else:
        aa_changed = protein != new_protein
    has_x = any(
        ci >= len(protein)
        or ci >= len(new_protein)
        or protein[ci] == "X"
        or new_protein[ci] == "X"
        for ci in range(first_codon, last_codon + 1)
    )
    if (
        aa_changed
        and not has_x
        and not terms & {"stop_gained", "stop_lost", "start_lost", "stop_retained_variant"}
    ):
        terms.add("missense_variant")
    elif (
        not aa_changed
        and not has_x
        and not terms & {"stop_retained_variant", "start_retained_variant"}
    ):
        terms.add("synonymous_variant")
    return terms if terms else None


def peptide_from_codon_allele(codon: str) -> str | None:
    """One side of a VEP codon-allele string → its peptide (reference
    peptide_from_codon_allele, transcript_consequence.rs:7883-7918 /
    Ensembl TranscriptVariationAllele::peptide()): alphabetic bases only,
    case-insensitive, a trailing partial codon appends ``X`` (unless the
    peptide is a lone stop), no bases renders ``-``; an untranslatable
    triplet aborts."""
    if codon == "-":
        return "-"
    peptide = []
    triplet = ""
    saw_base = False
    for ch in codon:
        if not ch.isalpha():
            continue
        saw_base = True
        triplet += ch.upper()
        if len(triplet) == 3:
            aa = CODON_TABLE.get(triplet)
            if aa is None:
                return None
            peptide.append(aa)
            triplet = ""
    if not saw_base:
        return "-"
    pep = "".join(peptide)
    if triplet and pep != "*":
        pep += "X"
    return pep or "-"


def pep_allele_string_from_codon_allele_string(codon_allele_string: str) -> str | None:
    """VEP ``pep_allele_string`` from a codons column value (reference
    pep_allele_string_from_codon_allele_string,
    transcript_consequence.rs:7867-7876): translate both sides; identical
    peptides collapse to the single value."""
    if "/" not in codon_allele_string:
        return None
    ref_codon, alt_codon = codon_allele_string.split("/", 1)
    ref_pep = peptide_from_codon_allele(ref_codon)
    alt_pep = peptide_from_codon_allele(alt_codon)
    if ref_pep is None or alt_pep is None:
        return None
    return ref_pep if ref_pep == alt_pep else f"{ref_pep}/{alt_pep}"


def frameshift_deletion_partial_stop_lost_from_codon_allele_string(
    codon_allele_string: str,
) -> bool | None:
    """Partial-stop-lost detection from the codons column (reference
    transcript_consequence.rs:7919-7926): the ref peptide carries a stop
    the alt loses into a partial codon (X)."""
    if "/" not in codon_allele_string:
        return None
    ref_codon, alt_codon = codon_allele_string.split("/", 1)
    ref_pep = peptide_from_codon_allele(ref_codon)
    alt_pep = peptide_from_codon_allele(alt_codon)
    if ref_pep is None or alt_pep is None:
        return None
    return "*" in ref_pep and "*" not in alt_pep and "X" in alt_pep


def _pep_with_partial(s: str) -> str:
    """Per-codon peptide where a trailing partial codon renders ``X`` (the
    reference's peptide_from_codon_allele — used by the frameshift-deletion
    partial-stop rule)."""
    out = []
    for i in range(0, len(s), 3):
        chunk = s[i : i + 3].upper()
        out.append(CODON_TABLE.get(chunk, "X") if len(chunk) == 3 else "X")
    return "".join(out)


def _deletion_stop_flags(
    out: dict, cds: str, new_cds: str, start_idx: int, end_idx: int,
    ref_len: int, alt_len: int, frameshift: bool,
) -> None:
    """Stop-codon effects of a deletion/delins (reference
    classify_coding_change stop block, transcript_consequence.rs:5414-5585 +
    the partial-stop codon-allele rule :5818-5827): stop_retained from the
    unmoved-or-inframe-shifted first stop; per-codon transitions ONLY for
    the affected non-interior codons (VEP's codon() renders frameshift
    remainders as X, so stop_gained never fires for frameshifts); a
    frameshift deletion leaving a partial stop codon sets stop_lost."""
    old_aas = translate(cds)
    new_aas = translate(new_cds)
    old_stop = old_aas.find("*")
    new_stop = new_aas.find("*")
    if old_stop >= 0 and new_stop >= 0:
        sns, sne = old_stop * 3, old_stop * 3 + 2
        if old_stop == new_stop and start_idx <= sne and end_idx >= sns:
            out["stop_retained"] = True
        elif ref_len != alt_len:
            len_diff = alt_len - ref_len
            near = end_idx >= sns - 9 and start_idx <= sne
            if near and len_diff % 3 == 0 and (new_stop - old_stop) == len_diff // 3:
                out["stop_retained"] = True
    for ci in range(start_idx // 3, end_idx // 3 + 1):
        if ci >= len(old_aas) or ci >= len(new_aas):
            continue
        # codons entirely inside the deletion have no local alt window
        if ref_len > alt_len and ci * 3 >= start_idx and ci * 3 + 2 <= end_idx:
            continue
        oa, na = old_aas[ci], new_aas[ci]
        if not frameshift and oa != "*" and na == "*":
            out["stop_gained"] = True
        elif oa == "*" and na != "*":
            out["stop_lost"] = True
        elif oa == "*" and na == "*" and not out["stop_retained"]:
            out["stop_retained"] = True
    if not out["stop_lost"] and frameshift and alt_len < ref_len and out.get("codons"):
        rp, _, ap = out["codons"].partition("/")
        rp, ap = _pep_with_partial(rp), _pep_with_partial(ap if ap != "-" else "")
        if "*" in rp and "*" not in ap and "X" in ap:
            out["stop_lost"] = True


def _insertion_stop_flags(
    out: dict, cds: str, new_cds: str, ins_at: int, alt_len: int, inframe_codons: int,
) -> None:
    """Stop-codon effects of an insertion (reference classify_insertion
    stop block, transcript_consequence.rs:6100-6210): inframe stop shift by
    exactly the inserted codon count retains; then VEP's LOCAL codon window
    — 3 + alt_len bytes of the mutated CDS at the insertion's codon —
    drives ref_eq_alt_sequence stop_retained, stop_lost, and stop_gained
    (no frameshift guard on the local window)."""
    old_aas = translate(cds)
    codon_at = max(ins_at - 1, 0) // 3
    if codon_at >= len(old_aas):
        return
    old_stop = old_aas.find("*")
    if old_stop >= 0:
        new_aas = translate(new_cds)
        new_stop = new_aas.find("*")
        sns, sne = old_stop * 3, old_stop * 3 + 2
        overlaps_stop = sns <= ins_at <= sne
        near_stop = overlaps_stop or (sns - 3 <= ins_at <= sne)
        if new_stop >= 0:
            if old_stop == new_stop and near_stop:
                out["stop_retained"] = True
            elif (
                not out["stop_retained"]
                and overlaps_stop
                and inframe_codons
                and (new_stop - old_stop) == inframe_codons
            ):
                # insertion directly inside the stop codon shifting it by
                # exactly the inserted codon count (VEP gates this on the
                # STRICT overlap, not the wider near window)
                out["stop_retained"] = True
    window = new_cds[codon_at * 3 : codon_at * 3 + 3 + alt_len]
    local = translate(window)
    ref_aa = old_aas[codon_at]
    if not out["stop_retained"]:
        if ref_aa != "*" and local[:1] == ref_aa and "*" in local:
            out["stop_retained"] = True
        elif ref_aa == "*" and local[:1] == "*":
            out["stop_retained"] = True
    if not out["stop_retained"] and not out["stop_lost"]:
        if ref_aa == "*" and "*" not in local:
            out["stop_lost"] = True
    if not out["stop_retained"] and not out["stop_gained"]:
        if ref_aa != "*" and "*" in local:
            out["stop_gained"] = True


def reference_translateable_seq_for_vep(
    t: Transcript, translation_cds: str | None = None
) -> str | None:
    """The CDS the classifier should run on (reference
    reference_translateable_seq_for_vep, transcript_consequence.rs:
    3590-3621): a transcript-cached translateable sequence wins; else the
    coding slice of the mRNA (spliced_seq, or cdna_seq with provable full
    context), N-prefixed up to the cached translation's leading-N phase
    count without double-prefixing; else the translation cache.  Our model
    stores the transcript-cached translateable in ``cds_sequence``."""
    if t.cds_sequence:
        return t.cds_sequence.upper()
    cached = translation_cds.upper() if translation_cds else None
    lead = _leading_n(cached) if cached else 0
    seq = transcript_mrna_seq(t)
    if seq and t.cdna_coding_start and t.cdna_coding_end:
        si = t.cdna_coding_start - 1
        end = t.cdna_coding_end
        if 0 <= si < end <= len(seq):
            sl = seq[si:end]
            prefix = max(lead - _leading_n(sl), 0)
            return "N" * prefix + sl
    return cached


def translated_alt_protein_for_hgvs(t: Transcript, mutated_cds: str) -> str:
    """Alternate protein for frameshift / stop-loss HGVS: translate the
    mutated CDS with the 3'UTR appended and WITHOUT trimming the
    incomplete trailing codon (reference translated_alt_protein_for_hgvs,
    transcript_consequence.rs:3666-3673 — Ensembl release/115's
    ``_trim_incomplete_codon`` is a no-op in practice, so VEP appends the
    UTR to the untrimmed alternate CDS)."""
    utr = three_prime_utr_seq_of(t) or ""
    return translate((mutated_cds + utr).upper())


def _cdna_full_context(t: Transcript, seq: str) -> bool:
    """True when a cache ``cdna_seq`` provably contains full transcript
    context, not just the CDS (reference
    cdna_seq_has_full_transcript_context_for_vep,
    transcript_consequence.rs:3459-3475): either a non-trivial 5' prefix
    before cdna_coding_start, or >1 trailing bases after cdna_coding_end."""
    if t.cdna_coding_end is None or t.cdna_coding_end > len(seq):
        return False
    start_idx = (t.cdna_coding_start - 1) if t.cdna_coding_start else 0
    if start_idx > 0:
        return True
    return len(seq) - t.cdna_coding_end > 1


def transcript_mrna_seq(t: Transcript) -> str | None:
    """Full mRNA sequence usable for UTR extraction: ``spliced_seq``
    verbatim, else ``cdna_seq`` only when it carries full transcript
    context (reference transcript_mrna_seq_for_vep,
    transcript_consequence.rs:3477-3487)."""
    if t.spliced_seq:
        return t.spliced_seq.upper()
    if t.cdna_seq and _cdna_full_context(t, t.cdna_seq):
        return t.cdna_seq.upper()
    return None


def three_prime_utr_seq_of(t: Transcript) -> str | None:
    """3'UTR sequence (reference three_prime_utr_seq,
    transcript_consequence.rs:8214-8233): LoF biotypes have no annotated
    UTR; a cached raw UTR is preferred and NOT fallen through when empty;
    otherwise sliced from the mRNA after ``cdna_coding_end``."""
    if "LoF" in t.biotype:
        return None
    if t.three_prime_utr_seq is not None:
        return t.three_prime_utr_seq.upper() if t.three_prime_utr_seq else None
    if t.cdna_coding_end is None:
        return None
    full = transcript_mrna_seq(t)
    if full is None or t.cdna_coding_end >= len(full):
        return None
    utr = full[t.cdna_coding_end :]
    return utr or None


def _start_codon_context(
    t: Transcript, translateable: str | None
) -> tuple[str | None, str] | None:
    """(5'UTR or None, translateable sequence) for the cDNA-space start
    check (reference start_codon_context,
    transcript_consequence.rs:6364-6393): spliced_seq preferred; cdna_seq
    accepted; a CDS-only cdna cache (coding_end beyond the sequence) is
    rejected; with no 5'UTR the translateable/cdna sequence stands alone."""
    if not t.cdna_coding_start or t.cdna_coding_start < 1:
        return None
    atg_start = t.cdna_coding_start - 1
    if t.spliced_seq:
        seq = t.spliced_seq
        ce = t.cdna_coding_end
        if ce is not None and atg_start < ce <= len(seq):
            utr = seq[:atg_start] if atg_start > 0 else None
            return (utr, seq[atg_start:ce])
    if t.cdna_seq:
        seq = t.cdna_seq
        if atg_start == 0:
            return (None, seq)
        ce = t.cdna_coding_end
        if ce is not None and atg_start < ce <= len(seq):
            return (seq[:atg_start], seq[atg_start:ce])
    if atg_start == 0:
        seq = translateable or t.cdna_seq
        if seq:
            return (None, seq)
    return None


def ins_del_start_altered(
    t: Transcript, vs: int, ve: int, ref: str, alt: str
) -> bool | None:
    """VEP ``_ins_del_start_altered`` in cDNA space (reference
    transcript_consequence.rs:6406-6498; Ensembl VariationEffect.pm
    990-1022): apply the indel to 5'UTR+CDS, return True when the start
    codon is destroyed, False when retained, None when full cDNA context
    is unavailable.  When the 5'UTR changed, retention is judged by the
    translateable SUFFIX being preserved, not by ATG staying at the
    original byte offset.  ``ref``/``alt`` must be normalized (empty
    string for the missing side)."""
    ctx = _start_codon_context(t, t.cds_sequence)
    if ctx is None:
        return None
    utr, translateable = ctx
    utr_u = utr.upper() if utr else None
    trans_u = translateable.upper()
    seq = (utr_u or "") + trans_u
    is_ins = ref == ""
    c_start = _genomic_to_cdna_offset(t, vs)
    if c_start is None:
        return None
    if is_ins:
        c_min = c_max = c_start
    else:
        c_end = _genomic_to_cdna_offset(t, ve)
        if c_end is None:
            return None
        c_min, c_max = min(c_start, c_end), max(c_start, c_end)
    alt_t = (alt.upper() if t.strand >= 0 else revcomp(alt.upper())) if alt else ""
    if is_ins:
        splice = c_min + 1
        if splice > len(seq):
            return True
        mutated = seq[:splice] + alt_t + seq[splice:]
    else:
        if c_min >= len(seq):
            return True
        mutated = seq[:c_min] + alt_t + seq[min(c_max + 1, len(seq)) :]
    if utr_u is not None:
        atg_start = len(utr_u)
        if len(mutated) >= atg_start + 3:
            if (
                mutated[:atg_start] == utr_u
                and mutated[atg_start : atg_start + 3] == "ATG"
            ):
                return False
        # 5'UTR changed: fall through to the translateable-suffix rule
    if len(mutated) < len(trans_u):
        return True
    return mutated[-len(trans_u) :] != trans_u


def _mutated_cds_first3(t: Transcript, vs: int, ve: int, ref: str, alt: str) -> str | None:
    """First 3 CDS bases after applying an indel — the no-cDNA fallback of
    the start check (reference mutated_cds_first3,
    transcript_consequence.rs:6500-6600; positive-strand arithmetic per the
    reference's simplified mapping).  ``ref``/``alt`` normalized."""
    if not t.cds_sequence or t.cds_start is None:
        return None
    cds = t.cds_sequence
    lead = _leading_n(cds)
    is_ins = ref == ""
    if t.strand >= 0:
        cds_start = t.cds_start
        if is_ins:
            anchor = vs - 1
            if anchor < cds_start:
                return cds[lead : lead + 3].upper()
            idx = (anchor - cds_start) + lead
            if idx >= len(cds):
                return None
            ins_point = idx + 1
            mutated = cds[:ins_point] + alt.upper() + cds[ins_point:]
        else:
            cds_end = t.cds_end if t.cds_end is not None else cds_start
            ov_s, ov_e = max(vs, cds_start), min(ve, cds_end)
            ref_in_cds = (ov_e - ov_s + 1) if ov_e >= ov_s else 0
            start_idx = ((vs - cds_start) + lead) if vs >= cds_start else lead
            end_idx = min(start_idx + ref_in_cds, len(cds))
            mutated = cds[:start_idx] + alt.upper() + (
                cds[end_idx:] if end_idx < len(cds) else ""
            )
        return mutated[lead : lead + 3].upper() if len(mutated) >= lead + 3 else None
    # negative strand: transcript-oriented index from the HIGH genomic end
    cds_end = t.cds_end if t.cds_end is not None else 0
    alt_rc = revcomp(alt.upper()) if alt else ""
    if is_ins:
        anchor = vs  # first base after the insertion point, genomic
        if anchor > cds_end:
            return cds[lead : lead + 3].upper()
        idx = (cds_end - anchor) + lead
        if idx >= len(cds):
            return None
        ins_point = idx + 1
        mutated = cds[:ins_point] + alt_rc + cds[ins_point:]
    else:
        cds_start = t.cds_start if t.cds_start is not None else 0
        ov_s, ov_e = max(vs, cds_start), min(ve, cds_end)
        ref_in_cds = (ov_e - ov_s + 1) if ov_e >= ov_s else 0
        start_idx = ((cds_end - ve) + lead) if ve <= cds_end else lead
        end_idx = min(start_idx + ref_in_cds, len(cds))
        mutated = cds[:start_idx] + alt_rc + (
            cds[end_idx:] if end_idx < len(cds) else ""
        )
    return mutated[lead : lead + 3].upper() if len(mutated) >= lead + 3 else None


def mutated_cds_stop_preserved(
    t: Transcript, vs: int, ve: int, ref: str, alt: str
) -> bool:
    """VEP ``_ins_del_stop_altered`` (reference mutated_cds_stop_preserved,
    transcript_consequence.rs:3246-3327; Ensembl VariationEffect.pm
    1382-1433): concatenate CDS + 3'UTR, apply the mutation at the CDS
    index, and check whether the codon at the ORIGINAL stop position still
    translates to a stop — 3'UTR bases may rebuild the stop after a
    boundary deletion (issue #90).  ``ref``/``alt`` normalized."""
    if not t.cds_sequence:
        return False
    cds = t.cds_sequence.upper()
    gpos = vs if t.strand >= 0 else ve
    lead = _leading_n(cds)
    raw = _genomic_to_cds_offset(t, gpos)
    if raw is None:
        return False
    idx = raw + lead
    if idx > len(cds):
        return False
    utr = three_prime_utr_seq_of(t) or ""
    combined = cds + utr
    end_idx = min(idx + len(ref), len(combined))
    alt_t = (alt.upper() if t.strand >= 0 else revcomp(alt.upper())) if alt else ""
    mutated = combined[:idx] + alt_t + (
        combined[end_idx:] if end_idx < len(combined) else ""
    )
    if len(mutated) < len(cds):
        return False
    stop_pos = len(cds) - 3
    if stop_pos + 3 > len(mutated):
        return False
    return _is_stop_codon(mutated[stop_pos : stop_pos + 3])


def _apply_indel_start_flags(
    out: dict,
    t: Transcript,
    vs: int,
    ve: int,
    ref: str,
    alt: str,
    cds: str,
    new_cds: str,
    lead: int,
    frameshift: bool,
) -> None:
    """Reference start cascade for indels overlapping the start codon
    (transcript_consequence.rs:2174-2216): the cDNA-space
    ``ins_del_start_altered`` decides when full cDNA context exists —
    False → start_retained (+ start_lost co-fired for frameshifts), True →
    start_lost; None falls back to the mutated-CDS first-codon check."""
    r = ins_del_start_altered(t, vs, ve, ref, alt)
    if r is False:
        out["start_retained"] = True
        if frameshift:
            out["start_lost"] = True
    elif r is True:
        out["start_lost"] = True
    else:
        _indel_start_flags(out, cds, new_cds, lead, frameshift)


def _indel_start_flags(out: dict, cds: str, new_cds: str, lead: int, frameshift: bool) -> None:
    """Start-codon effects of an indel overlapping the first codon
    (reference classify_coding_change start block,
    transcript_consequence.rs:5337-5414; the no-cDNA branch of
    ins_del_start_altered checks the mutated CDS directly): the peptide
    first-AA comparison drives start_lost; the mutated CDS still beginning
    with ATG drives start_retained, with frameshifts co-firing start_lost
    either way (the full affected peptide range differs)."""
    old0 = translate(cds[lead : lead + 3])
    new0 = translate(new_cds[lead : lead + 3]) if len(new_cds) >= lead + 3 else ""
    if new0 == "M":
        out["start_retained"] = True
    if old0 and new0 and old0 != new0:
        out["start_lost"] = True
    if frameshift:
        out["start_lost"] = True


def _nm_raw_cdna_outside_coding(t: Transcript, gpos: int) -> bool:
    """Reference genomic_to_cds_index NM-arm gate: the RAW exon-geometry
    cdna index is bound-checked against the (EDITED-space) cdna_coding
    bounds — on a deletion-edited transcript the genomic bases near the
    CDS end fall PAST the shrunken coding_end and the classification
    refuses them (terms stay heuristic coding_sequence_variant; round 9,
    verified on the edited-transcript differential grid)."""
    if not (
        prefers_exon_geometry_over_mapper(t)
        and (t.refseq_edits or t.cdna_mapper_segments)
        and t.cdna_coding_start is not None
        and t.cdna_coding_end is not None
    ):
        return False
    n = genomic_to_cdna_index_for_transcript(t, gpos)
    # intronic positions (no cdna index) are NOT out-of-bounds — they keep
    # the partial-unknown "?" span rendering; only a mappable cdna index
    # past the edited coding bounds refuses classification
    return n is not None and (n < t.cdna_coding_start or n > t.cdna_coding_end)


def classify_coding_indel(
    t: Transcript, vs: int, ve: int, ref: str, alt: str, is_ins: bool
) -> dict | None:
    """Codon-level classification of an indel inside the CDS given
    ``cds_sequence`` (reference classify_coding_change deletion/insertion
    paths + the classify_* truth tables, transcript_consequence.rs:5225+,
    tests :11678-11935).  Returns a dict with VEP's rendering conventions:

    * ``codons``: affected ref/alt codon strings — changed bases uppercase,
      context lowercase; ``-`` for the empty side of a codon-aligned event.
    * ``amino_acids``: ref/alt peptides; frameshift alt ends in ``X``.
    * ``cds_position_start/end``, ``protein_position_start/end``: 1-based;
      an insertion spans its two flanking bases.
    * ``stop_retained``/``stop_gained``/``stop_lost``: codon-level stop
      effects used to refine the length-based terms.
    """
    if not t.cds_sequence:
        return None
    cds = t.cds_sequence.upper()
    lead = _leading_n(t.cds_sequence)
    seq = (alt if t.strand >= 0 else revcomp(alt)).upper()
    dref = (ref if t.strand >= 0 else revcomp(ref)).upper()

    if is_ins:
        # insertion point: before transcript index ins_at.  An insertion at
        # the CDS boundary (one flank maps, the other is past the CDS end)
        # anchors at the mapped flank — VEP still renders full coding
        # fields there (issue #118 exon-boundary insertions).
        # reference anchor order (classify_insertion, rs:5941-5960): the
        # PRIMARY anchor is the base before the insertion in transcript
        # orientation; the alternate flank substitutes with cds_idx − 1,
        # whose checked_sub REJECTS an insertion before the first coding
        # base (the boundary case stays heuristic-classified — round 9,
        # verified on the differential grid)
        if t.strand >= 0:
            anchor_g, alt_anchor_g = vs - 1, vs
        else:
            anchor_g, alt_anchor_g = vs, vs - 1
        primary = genomic_to_cds_index(t, anchor_g)
        alt_anchor = genomic_to_cds_index(t, alt_anchor_g)
        if primary is not None:
            ins_at = primary + 1 + lead
        else:
            if alt_anchor is None or alt_anchor == 0:
                return None
            ins_at = alt_anchor + lead
        # RefSeq misalignment: SEQUENCE operations shift into the edited
        # space the cached CDS lives in (reference classify_insertion,
        # rs:5958-5960); DISPLAY positions keep the raw exon-geometry
        # index + the output-time offset (reference raw_cds_position_*,
        # rs:5500-5514 — annotation_details applies that shift itself).
        # Round 9, verified on the edited-transcript grid.
        raw_ins_at = ins_at
        adj = adjust_refseq_cds_sequence_index(t, ins_at - 1, lead)
        if adj is not None:
            ins_at = adj + 1
        if ins_at < 0 or ins_at > len(cds):
            return None
        out = {
            "cds_position_start": raw_ins_at, "cds_position_end": raw_ins_at + 1,
            "protein_position_start": None, "protein_position_end": None,
            "codons": None, "amino_acids": None,
            "stop_retained": False, "stop_gained": False, "stop_lost": False,
            "start_retained": False, "start_lost": False,
        }
        # incomplete terminal codon: VEP completes the reading frame with
        # 3'UTR bases before translating, so codon windows near the CDS end
        # read padded sequence (reference classify_insertion effective_cds,
        # rs:5970-6000 / Ensembl Transcript::translate complete_codons;
        # round-10 grid, frameshift-intron + cds_start_NF arms).  The pad
        # applies only when the UTR can fully complete the codon.
        _rem = len(cds) % 3
        if _rem:
            _utr = three_prime_utr_seq_of(t) or ""
            _pad = _utr[: 3 - _rem].upper()
            if len(_pad) == 3 - _rem:
                cds = cds + _pad
        new_cds = cds[:ins_at] + seq + cds[ins_at:]
        frameshift = len(seq) % 3 != 0
        # start-codon overlap for insertions: the point must fall INSIDE
        # the first codon (reference insertion path cds_idx < 2 — an
        # insertion before or after the codon doesn't touch it)
        if 1 <= ins_at - lead <= 2 and not t.cds_start_nf:
            _apply_indel_start_flags(
                out, t, vs, ve, ref, alt, cds, new_cds, lead, frameshift
            )
        # codon-boundary decisions use the PADDED sequence-space insertion
        # point — the cds string carries the leading-N pad and the reference
        # tests ins_point % 3 directly (classify_insertion at_codon_boundary,
        # rs:6261; round-10 grid, cds_start_NF arm)
        u = ins_at
        if frameshift and u > 0 and u % 3 == 0:
            # codon-boundary frameshift insertion: no existing codon is
            # disrupted, so VEP renders the dash form like the inframe
            # boundary case — codons "-/<INS>", amino acids "-/X"
            # (reference
            # classify_frameshift_insertion_at_boundary_codons_dash_format
            # / _uses_dash_ref)
            out["codons"] = f"-/{seq}"
            out["amino_acids"] = "-/X"
        elif frameshift:
            c0 = (max(ins_at - 1, 0) // 3) * 3
            ref_codon = cds[c0 : c0 + 3]
            alt_codon = new_cds[c0 : c0 + 3 + len(seq)]
            rendered_alt = "".join(
                b.upper() if ins_at <= c0 + i < ins_at + len(seq) else b.lower()
                for i, b in enumerate(alt_codon)
            )
            out["codons"] = f"{ref_codon.lower()}/{rendered_alt}"
            aa_old = translate(ref_codon) or "X"
            aa_new = translate(new_cds[c0 : c0 + 3])
            out["amino_acids"] = (
                f"{aa_old}/{aa_new}X" if aa_new == aa_old else f"{aa_old}/X"
            )
            if aa_old != "*" and "*" in translate(new_cds[c0:]):
                pass  # downstream stop from the shifted frame — fsTer in HGVSp
        elif ins_at % 3 == 0:  # inframe at a codon boundary
            out["codons"] = f"-/{seq}"
            out["amino_acids"] = f"-/{translate(seq)}"
        else:  # inframe within a codon
            c0 = (ins_at // 3) * 3
            ref_codon = cds[c0 : c0 + 3]
            alt_span = new_cds[c0 : c0 + 3 + len(seq)]
            rendered_alt = "".join(
                b.upper() if ins_at <= c0 + i < ins_at + len(seq) else b.lower()
                for i, b in enumerate(alt_span)
            )
            out["codons"] = f"{ref_codon.lower()}/{rendered_alt}"
            out["amino_acids"] = f"{translate(ref_codon)}/{translate(alt_span.upper())}"
        _insertion_stop_flags(
            out, cds, new_cds, ins_at, len(seq),
            len(seq) // 3 if not frameshift else 0,
        )
        # the displayed amino acids derive from the CODONS string through
        # VEP's pep_allele rule — whole codons translate, a trailing
        # partial codon appends 'X', identical sides collapse (reference
        # amino_acids_for_output → pep_allele_string_from_codon_allele_
        # string; round-10 grid: 'R/SX' for a mid-codon frameshift
        # insertion, not the bare 'R/X')
        if out["codons"]:
            pep = pep_allele_string_from_codon_allele_string(out["codons"])
            if pep is not None:
                out["amino_acids"] = pep
        # protein span rule (reference classify_insertion ins_at_boundary,
        # rs:6036-6050): peptides of the two DISPLAY-space cds flanks span
        # only when (a) both genomic flanks map into the CDS and land in
        # different codons, or (b) only the far flank maps and the
        # (sequence-space) insertion point sits on a codon boundary;
        # otherwise the span collapses to the near-flank codon.
        n_pad = lead
        disp_s = (
            adjust_refseq_cds_output_position(t, raw_ins_at, n_pad)
            or raw_ins_at
        )
        disp_e = (
            adjust_refseq_cds_output_position(t, raw_ins_at + 1, n_pad)
            or (raw_ins_at + 1)
        )
        pep_a, pep_b = (disp_s + 2) // 3, (disp_e + 2) // 3
        if primary is not None and alt_anchor is not None:
            boundary = pep_a != pep_b
        elif primary is None and alt_anchor is not None:
            boundary = ins_at % 3 == 0
        else:
            boundary = False
        if boundary:
            out["protein_position_start"] = min(pep_a, pep_b)
            out["protein_position_end"] = max(pep_a, pep_b)
        else:
            out["protein_position_start"] = pep_a
            out["protein_position_end"] = pep_a
        return out

    # deletion / delins: transcript-orientation first affected index
    first_g = vs if t.strand >= 0 else ve
    s0 = _genomic_to_cds_offset(t, first_g)
    if s0 is None:
        return None
    if any(_nm_raw_cdna_outside_coding(t, p) for p in range(vs, ve + 1)):
        return None
    if ve > vs:
        offs = [_genomic_to_cds_offset(t, p) for p in range(vs, ve + 1)]
        if any(o is None for o in offs):
            return None
        so = sorted(offs)
        if so[-1] - so[0] != ve - vs:
            return None
    s0 += lead
    # RefSeq misalignment into edited-sequence space for SEQUENCE ops;
    # display positions keep the raw index (reference deletion path,
    # rs:3263-3268 vs raw_cds_position_*, rs:5500-5514; round 9, verified
    # on the edited-transcript grid)
    raw_s0 = s0
    adj = adjust_refseq_cds_sequence_index(t, s0, lead)
    if adj is not None:
        s0 = adj
    ln = len(dref)
    if s0 + ln > len(cds) or cds[s0 : s0 + ln] != dref:
        return None
    new_cds = cds[:s0] + seq + cds[s0 + ln :]
    frameshift = (ln - len(seq)) % 3 != 0
    c0 = (s0 // 3) * 3
    c1 = ((s0 + ln - 1) // 3) * 3 + 3
    out = {
        "cds_position_start": raw_s0 + 1, "cds_position_end": raw_s0 + ln,
        "protein_position_start": raw_s0 // 3 + 1,
        "protein_position_end": (raw_s0 + ln - 1) // 3 + 1,
        "codons": None, "amino_acids": None,
        "stop_retained": False, "stop_gained": False, "stop_lost": False,
        "start_retained": False, "start_lost": False,
    }
    # start-codon overlap: any deletion/delins touching CDS bases 0-2
    # (reference start_idx < 3, gated on cds_start_NF)
    if (s0 - lead) < 3 and not t.cds_start_nf:
        _apply_indel_start_flags(
            out, t, vs, ve, ref, alt, cds, new_cds, lead, frameshift
        )
    ref_span = cds[c0:c1]
    rendered_ref = "".join(
        b.upper() if s0 <= c0 + i < s0 + ln else b.lower()
        for i, b in enumerate(ref_span)
    )
    remaining = (cds[c0:s0] + seq + cds[s0 + ln : c1]).lower()
    if frameshift:
        # frameshift deletions render the remaining window VERBATIM — an
        # empty remainder (deletion clipping an incomplete terminal codon)
        # stays empty, 'T/' not 'T/-' (reference frameshift-deletion codon
        # arm has no empty-side dash; round-10 grid, cds_end_NF arm)
        out["codons"] = f"{rendered_ref}/{remaining}"
    else:
        rendered_alt = "".join(
            b.upper() if s0 - c0 <= i < s0 - c0 + len(seq) else b
            for i, b in enumerate(remaining)
        ) if seq else (remaining or "-")
        out["codons"] = f"{rendered_ref}/{rendered_alt}"
    # amino acids from the codons string through VEP's pep_allele rule
    # (whole codons translate, a trailing partial codon appends 'X',
    # identical sides collapse) — a deletion clipping the incomplete
    # terminal codon renders the collapsed 'X', not '/X' (reference
    # amino_acids_for_output; round-10 grid, cds_end_NF arm)
    pep = pep_allele_string_from_codon_allele_string(out["codons"])
    if pep is not None:
        out["amino_acids"] = pep
    else:
        # untranslatable window (leading-N pad bases): identical sides
        # still collapse, like the reference's class-level amino_acids
        aa_ref = translate(ref_span)
        aa_alt = "X" if frameshift else (translate(remaining.upper()) or "-")
        out["amino_acids"] = (
            aa_ref if aa_ref == aa_alt else f"{aa_ref}/{aa_alt}"
        )
    _deletion_stop_flags(
        out, cds, new_cds, s0, s0 + ln - 1, ln, len(seq), frameshift
    )
    return out


def _add_coding_terms(
    terms: set, t: Transcript, vs: int, ve: int, ref: str, alt: str, is_ins: bool,
    exons: list[tuple[int, int]],
    heur: tuple[int, int, str, str] | None = None,
) -> bool:
    """Coding-path terms (reference add_coding_terms,
    transcript_consequence.rs:1915-2140).  Returns True when a codon-level
    classification was produced (frameshift/inframe terms then survive a
    frameshift-intron context; see classify)."""
    terms.add("coding_sequence_variant")
    ref_len, alt_len = len(ref), len(alt)

    if not is_ins and _is_complex_indel(t, vs, ve):
        return False

    # incomplete terminal codon: the variant's codon extends past the CDS
    # end with only 1-2 bases (VEP partial_codon).  cds length = spliced
    # translateable sequence (leading-N padded) when available.
    if t.cds_sequence:
        cds_len = len(t.cds_sequence)
        lead = _leading_n(t.cds_sequence)
    else:
        segs = _coding_segments(t)
        cds_len = sum(e - s + 1 for s, e in segs) if segs else 0
        lead = 0
    if cds_len:
        idx = _genomic_to_cds_offset(t, min(vs, ve))
        if idx is not None:
            last = cds_len - ((idx + lead) // 3) * 3
            if 0 < last < 3:
                terms.add("incomplete_terminal_codon_variant")

    if ref_len != alt_len:
        extends_into_utr = (
            ref_len > alt_len
            and t.cds_start is not None
            and (vs < t.cds_start or ve > t.cds_end)
        )
        diff = abs(ref_len - alt_len)
        if extends_into_utr:
            pass  # VEP: no frameshift/inframe across the CDS/UTR boundary
        elif diff % 3 == 0:
            terms.add("inframe_insertion" if alt_len > ref_len else "inframe_deletion")
        else:
            terms.add("frameshift_variant")
        if t.cds_sequence:
            cls = classify_coding_indel(t, vs, ve, ref, alt, is_ins)
            if cls is not None:
                # VEP's frameshift predicate returns 0 when the stop codon
                # is retained — reclassify as the inframe term
                if cls["stop_retained"] and "frameshift_variant" in terms:
                    terms.discard("frameshift_variant")
                    terms.add(
                        "inframe_insertion" if alt_len > ref_len else "inframe_deletion"
                    )
                if cls["stop_gained"]:
                    terms.add("stop_gained")
                if cls.get("stop_lost"):
                    terms.add("stop_lost")
                if cls["stop_retained"]:
                    terms.add("stop_retained_variant")
                if cls.get("start_lost"):
                    terms.add("start_lost")
                if cls.get("start_retained"):
                    terms.add("start_retained_variant")
                # VEP inframe_insertion containment: the ref peptide must be
                # a pure prefix OR suffix of the alt peptide; otherwise the
                # protein_altering_variant catch-all stands alone.  The
                # peptides derive PER-SIDE from the codons string — the
                # displayed amino_acids COLLAPSES equal sides ('*' for a
                # stop-retained insertion), which would break the
                # containment parse (round-10 grid, multi-intron arm)
                if "inframe_insertion" in terms and cls["codons"]:
                    rc_, _, ac_ = cls["codons"].partition("/")
                    rp = peptide_from_codon_allele(rc_) or ""
                    ap = peptide_from_codon_allele(ac_) or ""
                    star = ap.find("*")
                    if star >= 0 and star + 1 < len(ap):
                        ap = ap[: star + 1]
                    if rp != "-" and not (ap.startswith(rp) or ap.endswith(rp)):
                        terms.discard("inframe_insertion")
                terms.add("protein_altering_variant")
                return True
        hs, he, href, halt = heur if heur is not None else (vs, ve, ref, alt)
        _start_stop_heuristic_terms(terms, t, hs, he, href, halt)
        terms.add("protein_altering_variant")
        return False

    if ref_len == 0:
        return False

    if t.cds_sequence:
        got = _classify_substitution(t, vs, ref, alt)
        if got is not None:
            terms.update(got)
            return True
        return False

    # no sequence context: positional start/stop heuristics + the in-frame
    # stop-codon allele pattern.  Both run on the caller's original
    # (pre-trim) alleles so whole-codon MNVs like TAA→TGA keep their
    # stop-codon identity (reference tests feed the engine untrimmed codons,
    # retained_and_gained_stop_terms_are_emitted rs:9981).
    hs, he, href, halt = heur if heur is not None else (vs, ve, ref, alt)
    _start_stop_heuristic_terms(terms, t, hs, he, href, halt)
    if (
        len(href) == len(halt)
        and len(href) % 3 == 0
        and len(href) > 0
        and not _is_stop_codon(href)
        and _is_stop_codon(halt)
    ):
        terms.add("stop_gained")
    return False


def _strip_parent_terms(terms: set) -> None:
    """Remove parent SO terms subsumed by more specific children (reference
    strip_parent_terms, transcript_consequence.rs:3099)."""
    specific_coding = terms & {
        "missense_variant", "synonymous_variant", "stop_gained", "stop_lost",
        "start_lost", "frameshift_variant", "inframe_insertion",
        "inframe_deletion", "stop_retained_variant", "start_retained_variant",
    }
    if specific_coding or "protein_altering_variant" in terms:
        terms.discard("coding_sequence_variant")
    if specific_coding:
        terms.discard("protein_altering_variant")
    if "splice_donor_5th_base_variant" in terms:
        terms.discard("splice_donor_region_variant")
    if terms & {
        "splice_donor_variant", "splice_acceptor_variant",
        "splice_donor_region_variant", "splice_donor_5th_base_variant",
    }:
        terms.discard("splice_region_variant")
    if terms & {"stop_lost", "stop_gained", "stop_retained_variant"}:
        terms.discard("incomplete_terminal_codon_variant")


def classify(
    t: Transcript,
    pos: int,
    ref: str,
    alt: str,
    upstream_distance: int = 5000,
    downstream_distance: int = 5000,
) -> list[str]:
    """All SO terms for one (variant, transcript) pair, severity-ordered.
    ``(pos, ref, alt)`` may be raw VCF (anchor bases included) — the VEP
    prefix/suffix trim is applied first, so padded indels classify by their
    truly changed bases.  Mirrors the reference engine's evaluation order
    (``transcript_consequence.rs:1142-1360``)."""
    if alt == "*":
        return []  # star allele: site removed by an upstream deletion
    vs, ve, ref_n, alt_n, is_ins = normalize_variant(pos, ref, alt)

    if is_ins:
        tx_overlap = t.start < vs <= t.end
    else:
        tx_overlap = _overlaps(vs, ve, t.start, t.end)
    if not tx_overlap:
        term, _ = _upstream_downstream_term(
            t, vs, ve, is_ins, upstream_distance, downstream_distance
        )
        return [term] if term else []

    terms: set[str] = set()
    exons = t.sorted_exons()
    # A non-insertion touching a base the RefSeq ``_rna_edit`` machinery
    # DELETED from the transcript (a mapper-segment gap or a pure-deletion
    # edit span) has no transcript mapping at all — VEP classifies it
    # intergenic on coding rows and keeps the non-coding exon term on
    # non-coding biotypes (reference transcript_consequence.rs:1152-1212,
    # pinned by native_refseq_gap_deletion_classifies_as_intergenic_not_utr
    # / refseq_noncoding_deleted_edit_gap_stays_non_coding_...).
    deleted_refseq_gap = (
        not is_ins
        and prefers_exon_geometry_over_mapper(t)
        and (len(t.cdna_mapper_segments) >= 2 or bool(t.refseq_edits))
        and any(
            mapper_deleted_gap_cdna_index(t, p) is not None
            or refseq_deleted_edit_cdna_index(t, p) is not None
            for p in range(vs, ve + 1)
        )
    )
    deleted_gap_noncoding_exon = deleted_refseq_gap and is_non_coding_biotype(t.biotype)
    overlaps_exon = (not deleted_refseq_gap) and any(
        _feature_overlaps(is_ins, vs, ve, es, ee) for es, ee in exons
    )
    if _variant_overlaps_intron(t, vs, ve, is_ins):
        terms.add("intron_variant")
    in_fs_intron = (not overlaps_exon) and _in_frameshift_intron(t, vs, ve)

    cs, ce = t.cds_start, t.cds_end
    has_cds = cs is not None and ce is not None
    ov_cds = has_cds and _overlaps(vs, ve, cs, ce)
    ins_left_in_cds = (
        is_ins
        and has_cds
        and cs <= vs - 1 <= ce
        and not (t.strand < 0 and vs - 1 == ce)
    )
    cds_end_boundary = (
        ins_left_in_cds and not overlaps_exon and any(vs == ee + 1 for _, ee in exons)
    )
    cds_start_boundary = (
        is_ins and ov_cds and not overlaps_exon and any(vs == es for es, _ in exons)
    )

    noncoding = is_non_coding_biotype(t.biotype)
    if deleted_refseq_gap and not deleted_gap_noncoding_exon:
        terms.add("intergenic_variant")
    elif noncoding and (overlaps_exon or deleted_gap_noncoding_exon):
        in_mirna = False
        if t.biotype == "miRNA":
            for ms, me in t.mature_mirna_regions:
                if _feature_overlaps(is_ins, vs, ve, ms, me):
                    terms.add("mature_miRNA_variant")
                    in_mirna = True
                    break
        if not in_mirna:
            terms.add("non_coding_transcript_exon_variant")
    elif (
        overlaps_exon or cds_end_boundary or cds_start_boundary
        or (in_fs_intron and ov_cds)
    ) and (ov_cds or ins_left_in_cds):
        ref0 = "" if ref in ("-", None) else str(ref)
        alt0 = "" if alt in ("-", None) else str(alt)
        got_classification = _add_coding_terms(
            terms, t, vs, ve, ref_n, alt_n, is_ins, exons,
            heur=(pos, pos + max(len(ref0) - 1, 0), ref0, alt0),
        )
        if in_fs_intron and not got_classification:
            # VEP's coding predicates guard on mappable CDS coords; inside a
            # frameshift-intron gap only coding_sequence_variant survives
            terms -= {
                "frameshift_variant", "inframe_insertion", "inframe_deletion",
                "protein_altering_variant",
            }
        if not is_ins and has_cds:
            if vs < cs:
                terms.add(
                    "5_prime_UTR_variant" if t.strand >= 0 else "3_prime_UTR_variant"
                )
            if ve > ce:
                terms.add(
                    "3_prime_UTR_variant" if t.strand >= 0 else "5_prime_UTR_variant"
                )
    elif overlaps_exon:
        u = _utr_term(t, vs, ve, is_ins)
        if u is not None:
            terms.add(u)
        elif not has_cds and t.biotype == "protein_coding":
            # protein_coding without CDS context: the coding catch-all
            terms.add("coding_transcript_variant")

    if (
        is_ins
        and not cds_end_boundary
        and not cds_start_boundary
        and "5_prime_UTR_variant" not in terms
        and "3_prime_UTR_variant" not in terms
    ):
        u = _utr_boundary_insertion_term(t, vs, exons)
        if u is not None:
            terms.add(u)

    _add_intron_splice_terms(terms, t, vs, ve, is_ins)

    if t.biotype == "nonsense_mediated_decay":
        terms.add("NMD_transcript_variant")
    if noncoding:
        # VEP omits the parent when the exon-specific / mature-miRNA term
        # is present
        if (
            "non_coding_transcript_exon_variant" not in terms
            and "mature_miRNA_variant" not in terms
        ):
            terms.add("non_coding_transcript_variant")

    _strip_parent_terms(terms)
    return sorted(terms, key=lambda x: SO_RANK.get(x, 999))


# ---------------------------------------------------------------------------
# typed annotation details (reference annotate_provider.rs:145-707 —
# transcript-level columns EXON/INTRON/cDNA_position/CDS_position/
# Protein_position/Amino_acids/Codons/VARIANT_CLASS/DISTANCE)
# ---------------------------------------------------------------------------


def variant_class(ref: str, alt: str) -> str:
    """Sequence-ontology variant class (VEP ``VARIANT_CLASS`` column)."""
    ref = "" if ref in ("-", None) else ref
    alt = "" if alt in ("-", None) else alt
    if len(ref) == 1 and len(alt) == 1:
        return "SNV"
    if len(ref) == 0 or (len(alt) > len(ref) and alt.startswith(ref)):
        return "insertion"
    if len(alt) == 0 or (len(ref) > len(alt) and ref.startswith(alt)):
        return "deletion"
    if len(ref) == len(alt):
        return "substitution"
    return "indel"


def exon_intron_numbers(
    t: Transcript, lo: int, hi: int, is_ins: bool = False, ins_point: int = 0
) -> tuple[str | None, str | None]:
    """VEP ``EXON`` / ``INTRON`` columns: ``"i/total"`` in transcript
    orientation for the exon/intron overlapped by [lo, hi] (None when not
    overlapping any).  Multi-feature spans report the first overlapped
    feature in transcript order, matching VEP's per-feature rendering.
    Insertions use VEP's inverted-coordinate feature overlap
    (``fs < P <= fe``, reference feature_overlaps) — an insertion at an
    exon's last base sits in the junction GAP and overlaps neither the
    exon nor the intron (round 9, verified on the differential grid)."""
    exons = t.sorted_exons()
    n_ex = len(exons)
    n_in = n_ex - 1
    ex_hit = in_hit = None
    for i in range(n_ex):
        es, ee = exons[i]
        if (
            (es < ins_point <= ee)
            if is_ins
            else not (hi < es or lo > ee)
        ):
            ex_hit = i if ex_hit is None else ex_hit
        if i < n_ex - 1:
            is_, ie = exons[i][1] + 1, exons[i + 1][0] - 1
            if is_ <= ie and (
                (is_ < ins_point <= ie)
                if is_ins
                else not (hi < is_ or lo > ie)
            ):
                in_hit = i if in_hit is None else in_hit
    if t.strand < 0:  # transcript orientation numbers from the 3' genomic end
        ex_hit = None if ex_hit is None else n_ex - 1 - ex_hit
        in_hit = None if in_hit is None else n_in - 1 - in_hit
    exon = f"{ex_hit + 1}/{n_ex}" if ex_hit is not None else None
    intron = f"{in_hit + 1}/{n_in}" if in_hit is not None and n_in > 0 else None
    return exon, intron


def _genomic_to_cdna_offset(t: Transcript, pos: int) -> int | None:
    """0-based offset of genomic ``pos`` within the spliced transcript
    (all exons, transcript orientation), or None when intronic/outside."""
    off = 0
    total = 0
    hit = None
    for es, ee in t.sorted_exons():
        if es <= pos <= ee:
            hit = off + (pos - es)
        if pos > ee:
            off += ee - es + 1
        total += ee - es + 1
    if hit is None:
        return None
    return hit if t.strand >= 0 else total - 1 - hit


def format_coords(start: int | None, end: int | None) -> str | None:
    """Ensembl VEP ``format_coords`` port (reference format_coords_ensembl,
    transcript_consequence.rs:7850-7860): equal bounds collapse to one
    number, swapped bounds reorder, an unknown bound renders ``?``."""
    if start is None and end is None:
        return None
    if start is None:
        return f"?-{end}"
    if end is None:
        return f"{start}-?"
    if start == end:
        return str(start)
    lo, hi = (start, end) if start <= end else (end, start)
    return f"{lo}-{hi}"


def _partial_coding_span_raw(
    t: Transcript, vs: int, ve: int
) -> tuple[int | None, int | None] | None:
    """RAW 1-based CDS bounds (lead-padded, pre-display-adjust) of the
    coding overlap of the NORMALIZED variant span [vs, ve], with a ``None``
    bound on each side the variant extends past the coding region in
    transcript orientation (reference partial_coding_overlap_classification,
    transcript_consequence.rs:8026-8112: VEP keeps the known coding-side
    bound of a complex CDS↔UTR/intron indel and emits ``?`` for the
    unknown side).  Returns None when the span has NO coding overlap —
    a deletion whose normalized bases are all UTR/intronic renders no
    cds/protein positions even when its (undeleted) VCF anchor base is
    coding."""
    segs = _coding_segments(t)
    if not segs:
        return None
    if t.strand < 0:  # transcript order
        segs = segs[::-1]
    first_idx = last_idx = None
    first_g = last_g = None
    offset = 0
    for seg_start, seg_end in segs:
        o_s, o_e = max(vs, seg_start), min(ve, seg_end)
        if o_s <= o_e:
            first_g = o_s if first_g is None else min(first_g, o_s)
            last_g = o_e if last_g is None else max(last_g, o_e)
            if t.strand >= 0:
                seg_first, seg_last = o_s - seg_start, o_e - seg_start
            else:
                seg_first, seg_last = seg_end - o_e, seg_end - o_s
            fi, li = offset + seg_first, offset + seg_last
            first_idx = fi if first_idx is None else min(first_idx, fi)
            last_idx = li if last_idx is None else max(last_idx, li)
        offset += seg_end - seg_start + 1
    if first_idx is None:
        return None
    if t.strand >= 0:
        extends_before = vs < first_g
        extends_after = ve > last_g
    else:
        extends_before = ve > last_g
        extends_after = vs < first_g
    lead = _leading_n(t.cds_sequence) if t.cds_sequence else 0
    return (
        None if extends_before else first_idx + lead + 1,
        None if extends_after else last_idx + lead + 1,
    )


def _partial_span_applies(
    t: Transcript, vs: int, ve: int, nref: str, nalt: str
) -> bool:
    """Whether a failed classification still renders partial CDS bounds —
    mirrors the reference's two partial_coding_overlap_classification call
    sites (transcript_consequence.rs:1923, :2079): a COMPLEX indel (the
    normalized span crosses a real, non-frameshift intron) or a DELETION
    extending past the genomic CDS into UTR.  Everything else renders no
    cds/protein positions at all (frameshift-intron spans, equal-length
    MNVs past the CDS end; round-10 grid)."""
    if _is_complex_indel(t, vs, ve):
        return True
    if (
        len(nref) > len(nalt)
        and t.cds_start is not None
        and t.cds_end is not None
    ):
        return vs < t.cds_start or ve > t.cds_end
    return False


def cdna_span_str(t: Transcript, pos: int, ref: str, alt: str) -> str | None:
    """cDNA_position display string (reference ``compute_cdna_position``,
    transcript_consequence.rs:7217-7326): exon-gated span over the spliced
    transcript.  Non-insertions map both genomic ends — equal bounds
    collapse, an unmappable (intron-extending) bound renders ``?`` oriented
    by strand; insertions map the two flanks (anchor base and insertion
    point) to a two-number span, synthesizing the missing flank ±1 by
    strand when only one maps.  Mapper-aware: an accepted
    ``cdna_mapper_segments`` cache is the authoritative converter;
    otherwise RefSeq numbering offsets shift exon-geometry cDNA into
    edited space — MAPPER-space deltas on coding transcripts,
    SEQUENCE-space deltas on non-coding ones (reference
    compute_cdna_position's adjust_output_cdna closure)."""
    ref = "" if ref in ("-", None) else ref
    alt = "" if alt in ("-", None) else alt
    vs, ve, _r, _a, is_ins = normalize_variant(pos, ref, alt)
    exons = t.sorted_exons()
    if not exons:
        return None
    if is_ins:
        in_exon = any(
            (es <= vs - 1 <= ee) or (es <= vs <= ee) for es, ee in exons
        )
    else:
        in_exon = any(_overlaps(vs, ve, es, ee) for es, ee in exons)
    if not in_exon:
        return None

    def _map(g: int) -> int | None:
        n = genomic_to_cdna_index_for_transcript(t, g)
        if n is None:
            return None
        if not uses_refseq_transcript_reference(t):
            return n
        if t.cds_start is not None and t.cds_end is not None:
            return edited_transcript_cdna_index(t, n)
        return edited_transcript_sequence_cdna_index(t, n)

    if is_ins:
        gap_anchor = mapper_insertion_gap_cdna_position(t, vs)
        if gap_anchor is not None:
            return str(gap_anchor)
        a, b = _map(vs - 1), _map(vs)
        if a is not None and b is not None:
            lo, hi = min(a, b), max(a, b)
        elif b is not None:
            other = b - 1 if t.strand >= 0 else b + 1
            lo, hi = min(b, other), max(b, other)
        elif a is not None:
            other = a + 1 if t.strand >= 0 else a - 1
            lo, hi = min(a, other), max(a, other)
        else:
            return None
        return f"{lo}-{hi}"
    s, e = _map(vs), _map(ve)
    if s is not None and e is not None:
        if s == e:
            return str(s)
        lo, hi = min(s, e), max(s, e)
        return f"{lo}-{hi}"
    if s is not None:
        return f"?-{s}" if t.strand < 0 else f"{s}-?"
    if e is not None:
        return f"{e}-?" if t.strand < 0 else f"?-{e}"
    return None


def compute_flags(t: Transcript) -> str | None:
    """FLAGS column from the incomplete-CDS booleans (reference
    compute_flags, transcript_consequence.rs:7825-7835).  A cache-parsed
    ``flags_str`` is used verbatim when present — it preserves the
    cache's encounter order (reference
    compute_flags_uses_flags_str_when_present).  Presence check, not
    truthiness: the reference returns ``Some(s.clone())`` for ANY present
    flags_str, including empty string."""
    if t.flags_str is not None:
        return t.flags_str
    if t.cds_start_nf and t.cds_end_nf:
        return "cds_start_NF&cds_end_NF"
    if t.cds_start_nf:
        return "cds_start_NF"
    if t.cds_end_nf:
        return "cds_end_NF"
    return None


def format_appris(raw: str) -> str:
    """APPRIS display form (reference format_appris,
    annotate_provider.rs): principalN -> PN, alternativeN -> AN, anything
    else passes through."""
    return raw.replace("principal", "P").replace("alternative", "A")


def format_hgvsp_output(
    raw_hgvsp: str,
    remove_hgvsp_version: bool = False,
    no_escape: bool = False,
    prediction_format: bool = False,
) -> str:
    """Output-time HGVSp transform (reference ``format_hgvsp_output``,
    annotate_provider.rs:2418-2449; Ensembl VEP OutputFactory.pm
    L1706-1715): optionally strip the translation version
    (``ENSP1.2:p.X`` → ``ENSP1:p.X``, only when the suffix is all
    digits), optionally parenthesize the protein change (``--hgvsp
    (prediction format)``), and — by DEFAULT — URI-escape ``=`` to
    ``%3D`` (VCF INFO reserves ``=``; ``no_escape`` disables it)."""
    out = raw_hgvsp
    if remove_hgvsp_version:
        head, sep, tail = out.partition(":p.")
        if sep:
            base, dot, version = head.rpartition(".")
            if dot and version.isdigit():
                head = base
            out = f"{head}{sep}{tail}"
    if prediction_format:
        head, sep, tail = out.partition(":p.")
        if sep:
            out = f"{head}{sep}({tail})"
    if not no_escape:
        out = out.replace("=", "%3D")
    return out


def format_hgvsp_output_col(
    col,
    remove_hgvsp_version: bool = False,
    no_escape: bool = False,
    prediction_format: bool = False,
):
    """Column twin of :func:`format_hgvsp_output` (kept adjacent so the
    two renderings cannot drift).  The lazy ``^(.*?):p\\.`` prefix mirrors
    the scalar twin's FIRST-occurrence ``:p.`` split."""
    from pyspark.sql import functions as F

    out = col
    if remove_hgvsp_version:
        out = F.regexp_replace(out, r"^(.*?)\.[0-9]+(:p\.)", r"$1$2")
    if prediction_format:
        out = F.regexp_replace(out, r"^(.*?):p\.(.*)$", r"$1:p.($2)")
    if not no_escape:
        out = F.replace(out, F.lit("="), F.lit("%3D"))
    return out


def format_prediction(prediction: str, score: float) -> str:
    """SIFT/PolyPhen ``prediction(score)`` rendering (reference
    format_prediction): spaces to underscores, the ``' - '`` separator
    collapsed (``tolerated - low confidence`` ->
    ``tolerated_low_confidence``)."""
    pred = prediction.replace(" ", "_").replace("_-_", "_")
    score_s = f"{score:g}"
    return f"{pred}({score_s})"


def mirna_structure_field(
    ncrna_structure: str | None,
    biotype: str,
    cdna_start: int | None,
    cdna_end: int | None,
) -> str:
    """miRNA secondary-structure CSQ terms for the variant's cDNA span
    (reference mirna_structure_field / VEP OutputFactory miRNA handling):
    the dot-bracket structure (optionally RLE-encoded, ``(19.6)4`` style,
    optionally prefixed ``start:end``) expands per base; overlapped ``(``
    and ``)`` each contribute a ``miRNA_stem`` (distinct before mapping,
    so stem can appear twice), ``.`` contributes ``miRNA_loop``; output is
    the sorted ``&``-join, empty for non-miRNA biotypes."""
    if biotype != "miRNA" or ncrna_structure is None:
        return ""
    if cdna_start is None or cdna_end is None:
        return ""
    import re as _re

    m = _re.match(r"^(\d+)[:\s](\d+)\s+(.*)$", ncrna_structure)
    if m:
        struct_start, struct_str = int(m.group(1)), m.group(3)
    else:
        struct_start, struct_str = 1, ncrna_structure
    cs, ce = min(cdna_start, cdna_end), max(cdna_start, cdna_end)
    expanded: list[str] = []
    i = 0
    while i < len(struct_str):
        ch = struct_str[i]
        if ch in "().":
            j = i + 1
            count = 0
            while j < len(struct_str) and struct_str[j].isdigit():
                count = count * 10 + int(struct_str[j])
                j += 1
            expanded.extend(ch * max(count, 1))
            i = j
        else:
            i += 1
    has_open = has_close = has_loop = False
    for p in range(cs, ce + 1):
        if p < struct_start:
            continue
        idx = p - struct_start
        if idx >= len(expanded):
            continue
        c = expanded[idx]
        has_open |= c == "("
        has_close |= c == ")"
        has_loop |= c == "."
    terms = []
    if has_open:
        terms.append("miRNA_stem")
    if has_close:
        terms.append("miRNA_stem")
    if has_loop:
        terms.append("miRNA_loop")
    return "&".join(sorted(terms))


def annotation_details(
    t: Transcript, pos: int, ref: str, alt: str,
    seqless_positions: str = "reference",
) -> dict:
    """Typed per-(variant, transcript) annotation columns.  Keys:
    ``exon intron cdna_position cds_position protein_position amino_acids
    codons distance``.  Sequence-dependent values (amino_acids, codons) are
    None without ``cds_sequence`` — the same degradation VEP applies when
    sequence context is missing.

    ``seqless_positions`` governs CDS/protein POSITIONS on transcripts
    without ``cds_sequence``:

    * ``'reference'`` (default): None — the reference engine derives
      positions only from a successful coding classification, which needs
      the translation; complex/UTR-extending spans still render partial
      '?' bounds (partial_coding_overlap_classification is geometry-only).
    * ``'geometric'``: exon-geometry positions (this engine's historical
      behavior — a strict superset, useful on synthetic caches; the gate
      oracles exercise it explicitly)."""
    ref = "" if ref in ("-", None) else ref
    alt = "" if alt in ("-", None) else alt
    lo, hi = pos, max(pos, pos + len(ref) - 1)
    out: dict = {
        "exon": None, "intron": None, "cdna_position": None,
        "cds_position": None, "protein_position": None,
        "amino_acids": None, "codons": None, "distance": None,
        "cds_position_str": None, "protein_position_str": None,
        "cdna_position_str": None,
    }
    def _set_span_strs(
        s1: int | None,
        e1: int | None,
        prot: tuple[int | None, int | None] | None = None,
    ) -> None:
        """Ensembl display strings for the CDS/protein spans: equal bounds
        collapse, an unmappable bound renders '?', and under cds_start_nf
        with N-phase padding a start inside the pad becomes unknown
        (reference use_unknown_start_format,
        transcript_consequence.rs:964-985).  ``prot`` overrides the
        cds-derived protein bounds with the classification's own (already
        display-space) values — insertions decide span-vs-collapse from
        their flank mappings, not from the cds span (reference
        classify_insertion ins_at_boundary, rs:6036-6050)."""
        n_pad = _leading_n(t.cds_sequence) if t.cds_sequence else 0
        start_unknown = (
            t.cds_start_nf and n_pad > 0 and s1 is not None and s1 <= n_pad
        )
        if start_unknown:
            s1 = None
        # RefSeq misalignment: display positions follow the padded raw CDS
        # index space, then shift by the mapper-space offsets (reference
        # transcript_consequence.rs:5500-5514)
        if s1 is not None:
            s1 = adjust_refseq_cds_output_position(t, s1, n_pad) or s1
        if e1 is not None:
            e1 = adjust_refseq_cds_output_position(t, e1, n_pad) or e1
        if prot is not None:
            p1, p2 = prot
        else:
            p1 = None if s1 is None else (s1 - 1) // 3 + 1
            p2 = None if e1 is None else (e1 - 1) // 3 + 1
        if start_unknown:
            p1 = None
        out["cds_position_str"] = format_coords(s1, e1)
        out["protein_position_str"] = format_coords(p1, p2)
    vs, ve, _r, _a, is_ins = normalize_variant(pos, ref, alt)
    in_tx = (t.start < vs <= t.end) if is_ins else _overlaps(vs, ve, t.start, t.end)
    if not in_tx:  # up/downstream: DISTANCE column, and NO cdna_position —
        # the engine computes compute_cdna_position only for rows whose
        # variant overlaps the transcript (reference
        # evaluate_variant_with_context variant_overlaps_tx gate; an
        # insertion at the transcript's first or past its last base is an
        # up/downstream row; round-10 grid, miRNA-transcript arm)
        _term, dist = _upstream_downstream_term(t, vs, ve, is_ins, 10**9, 10**9)
        out["distance"] = None if dist is None else int(dist)
        return out
    out["cdna_position_str"] = cdna_span_str(t, pos, ref, alt)
    # exon/intron display numbers use the NORMALIZED span — a deletion's
    # VCF anchor base is not deleted and must not pull in the adjacent
    # intron (reference which_exon_str/which_intron_str read
    # variant.start/end; round-10 grid, frameshift-intron arm)
    out["exon"], out["intron"] = exon_intron_numbers(
        t, vs, ve, is_ins=is_ins, ins_point=vs
    )
    # a non-insertion touching a base the RefSeq edit machinery DELETED
    # from the transcript has no CDS mapping: the reference suppresses the
    # typed codon fields (cds/protein positions, amino_acids, codons) but
    # keeps cDNA/exon/HGVSc (round 9, verified on the edited-transcript
    # differential grid; same condition as classify's deleted_refseq_gap)
    if not is_ins and (
        (
            prefers_exon_geometry_over_mapper(t)
            and (len(t.cdna_mapper_segments) >= 2 or bool(t.refseq_edits))
            and any(
                mapper_deleted_gap_cdna_index(t, p) is not None
                or refseq_deleted_edit_cdna_index(t, p) is not None
                for p in range(vs, ve + 1)
            )
        )
        or any(_nm_raw_cdna_outside_coding(t, p) for p in range(vs, ve + 1))
    ):
        n0 = genomic_to_cdna_index_for_transcript(t, pos if t.strand >= 0 else hi)
        if n0 is not None:
            out["cdna_position"] = (
                edited_transcript_cdna_index(t, n0)
                if t.cds_start is not None and t.cds_end is not None
                else edited_transcript_sequence_cdna_index(t, n0)
            )
        return out
    n = genomic_to_cdna_index_for_transcript(t, pos if t.strand >= 0 else hi)
    if n is not None:
        if not uses_refseq_transcript_reference(t):
            out["cdna_position"] = n
        elif t.cds_start is not None and t.cds_end is not None:
            out["cdna_position"] = edited_transcript_cdna_index(t, n)
        else:
            out["cdna_position"] = edited_transcript_sequence_cdna_index(t, n)
    # CDS indices live in the PADDED translateable-sequence space: VEP
    # prepends N characters when translation starts mid-codon, and every
    # raw index downstream (display, codon window, c. coordinate) includes
    # that pad (reference classify_coding_change raw_start_idx =
    # geometry + leading_n_offset; round-10 grid, cds_start_NF arm)
    _lead0 = _leading_n(t.cds_sequence) if t.cds_sequence else 0
    off = _cds_first_offset(t, pos, len(ref))
    if off is not None:
        off += _lead0
    # transcript-orientation LAST affected base (for span displays); only
    # meaningful for non-insertions
    g_last = (hi if t.strand >= 0 else lo) if ref else None
    last_off = _genomic_to_cds_offset(t, g_last) if g_last is not None else None
    if last_off is not None:
        last_off += _lead0
    if off is None:
        nvs0, nve0, nref0, nalt0, nins0 = normalize_variant(pos, ref, alt)
        if nref0 != nalt0 and len(nref0) != len(nalt0):
            # the classification works on the NORMALIZED event, so an
            # anchor outside the CDS does not block it: an insertion's
            # other flank can map (reference issue #118 / classify_insertion
            # alternate anchor), and a deletion anchored at the last base
            # of a FRAMESHIFT intron still classifies its exonic deleted
            # bases (reference treats ≤12bp introns as coding context;
            # round-10 grid, frameshift-intron arm)
            cls = classify_coding_indel(t, nvs0, nve0, nref0, nalt0, nins0)
            if cls is not None:
                out["codons"] = cls["codons"]
                out["amino_acids"] = cls["amino_acids"]
                out["cds_position"] = cls["cds_position_start"]
                out["protein_position"] = cls["protein_position_start"]
                _set_span_strs(
                    cls["cds_position_start"], cls["cds_position_end"],
                    prot=(
                        (cls["protein_position_start"],
                         cls["protein_position_end"])
                        if nins0 else None
                    ),
                )
                return out
        # boundary-spanning deletion: the NORMALIZED span's coding overlap
        # keeps the known bound and renders '?' on the side the variant
        # extends past the CDS — but ONLY for the shapes where the
        # reference invokes partial_coding_overlap_classification: a
        # complex indel (spans a real, non-frameshift intron) or a
        # deletion extending past the CDS into UTR (round-10 grid)
        if not nins0 and _partial_span_applies(t, nvs0, nve0, nref0, nalt0):
            span = _partial_coding_span_raw(t, nvs0, nve0)
            if span is not None:
                _set_span_strs(*span)
        return out
    _lead_pad = _leading_n(t.cds_sequence) if t.cds_sequence else 0
    _disp_cds = adjust_refseq_cds_output_position(t, off + 1, _lead_pad) or (off + 1)
    out["cds_position"] = _disp_cds
    out["protein_position"] = (_disp_cds + 2) // 3
    if len(ref) != len(alt) or not ref:
        # indel: codon-level rendering when sequence context is available
        nvs, nve, nref, nalt, nins = normalize_variant(pos, ref, alt)
        cls = classify_coding_indel(t, nvs, nve, nref, nalt, nins)
        if cls is not None:
            out["codons"] = cls["codons"]
            out["amino_acids"] = cls["amino_acids"]
            out["cds_position"] = cls["cds_position_start"]
            out["protein_position"] = cls["protein_position_start"]
            _set_span_strs(
                cls["cds_position_start"], cls["cds_position_end"],
                prot=(
                    (cls["protein_position_start"],
                     cls["protein_position_end"])
                    if nins else None
                ),
            )
        elif ref and _partial_span_applies(t, nvs, nve, nref, nalt):
            # partial spans from the NORMALIZED span's coding overlap —
            # a VCF-anchored deletion's anchor base is NOT deleted
            # (reference partial_coding_overlap_classification; '154-?' on
            # the edited two-exon boundary deletion, round-9 grid) —
            # gated on the complex/UTR-extending shapes the reference
            # routes there (round-10 grid, frameshift-intron arm)
            span = _partial_coding_span_raw(t, nvs, nve)
            if span is not None:
                _set_span_strs(*span)
        if (
            cls is None
            and t.cds_sequence is None
            and seqless_positions != "geometric"
        ):
            # reference mode: unclassifiable indel on a sequence-less
            # transcript carries no typed positions either
            out["cds_position"] = None
            out["protein_position"] = None
        return out
    if t.cds_sequence is None:
        if seqless_positions == "geometric":
            # geometric compat: exon-geometry display positions (pinned by
            # the gate oracles, which pass this mode explicitly)
            _set_span_strs(off + 1, None if last_off is None else last_off + 1)
            return out
        # reference mode: no classification without a translation → no
        # cds/protein positions, EXCEPT complex spans, which render the
        # geometry-only partial '?' bounds (reference emits '151-?' for an
        # intron-crossing MNV on a sequence-less transcript — round-10)
        out["cds_position"] = None
        out["protein_position"] = None
        if len(ref) > 1 and _is_complex_indel(t, lo, hi):
            span = _partial_coding_span_raw(t, lo, hi)
            if span is not None:
                _set_span_strs(*span)
        return out
    if len(ref) > 1:
        # boundary-crossing MNV: the classification fails on a
        # non-contiguous span, so no cds/protein display and no codons —
        # unless the span is COMPLEX (crosses a real intron), where the
        # reference keeps partial bounds (round-10 grid)
        _offs = [_genomic_to_cds_offset(t, p) for p in range(lo, hi + 1)]
        _so = sorted(o for o in _offs if o is not None)
        if any(o is None for o in _offs) or (
            _so and _so[-1] - _so[0] != len(ref) - 1
        ):
            if _is_complex_indel(t, lo, hi):
                span = _partial_coding_span_raw(t, lo, hi)
                if span is not None:
                    _set_span_strs(*span)
            return out
    cds = t.cds_sequence.upper()
    var_ref = ref.upper() if t.strand >= 0 else revcomp(ref.upper())
    var_alt = alt.upper() if t.strand >= 0 else revcomp(alt.upper())
    # sequence-space index (may differ from the display index on edited
    # RefSeq rows) + edited-transcript reference precedence — mirrors
    # _classify_substitution / reference classify_coding_change
    seq_adj = adjust_refseq_cds_sequence_index(t, off, _lead_pad)
    _off_disp = off
    if seq_adj is not None:
        off = seq_adj
    if off + len(var_ref) > len(cds):
        # substitution reaching past the cached (trimmed / incomplete) CDS:
        # the classification rejects it, so no display positions either
        # (reference: cds_position comes only from the CodingClassification;
        # round-10 grid, cds_end_NF arm)
        return out
    effective_ref = var_ref
    if var_ref and uses_refseq_transcript_reference(t):
        edited = edited_transcript_reference_allele(t, lo, hi, ref)
        if edited is not None and len(edited) == len(var_ref):
            effective_ref = edited.upper()
    if (
        cds[off : off + len(var_ref)] != effective_ref
        and effective_ref == var_ref
    ):
        # reference-allele mismatch against the cached CDS: the
        # classification refuses, so no display positions (reference
        # returns None from classify_coding_change; measured on the
        # cds_start_NF probe shapes, round 10)
        return out
    _set_span_strs(
        _off_disp + 1, None if last_off is None else last_off + 1
    )
    if cds[off : off + len(var_ref)] != effective_ref:
        cds = cds[:off] + effective_ref + cds[off + len(var_ref) :]
    new_cds = cds[:off] + var_alt + cds[off + len(var_ref) :]
    c0 = (off // 3) * 3
    c1 = ((off + len(var_ref) - 1) // 3) * 3 + 3
    old_codons = cds[c0:c1]
    new_codons = new_cds[c0:c1]
    # VEP renders affected bases uppercase within lowercase codons
    def _render(codons: str) -> str:
        rendered = []
        for i, b in enumerate(codons):
            g = c0 + i
            rendered.append(b.upper() if off <= g < off + len(var_ref) else b.lower())
        return "".join(rendered)

    out["codons"] = f"{_render(old_codons)}/{_render(new_codons)}"

    # amino acids follow VEP's local-peptide rule: whole codons translate,
    # a trailing partial codon (incomplete terminal codon clipped by the
    # CDS end) appends 'X' unless the peptide is already a stop, and an
    # empty window renders '-' (reference local_peptide_from_codon_window,
    # transcript_consequence.rs:3424-3448; round-10 grid FSIB/NFEA arms)
    def _local_pep(codon: str) -> str:
        whole = codon[: len(codon) // 3 * 3]
        pep = translate(whole) if whole else ""
        if len(codon) % 3 and pep != "*":
            pep += "X"
        return pep or "-"

    aa_old = _local_pep(old_codons)
    aa_new = _local_pep(new_codons)
    # failed BAM-edit RefSeq rows: the cached translation window is the
    # trusted REF peptide (reference amino_acids_for_output prefers the
    # classified — cached-protein — amino acids on those rows)
    cached = failed_refseq_cached_protein(t, cds)
    if cached is not None:
        w = cached[c0 // 3 : c1 // 3]
        if len(w) == len(aa_old):
            aa_old = w
    out["amino_acids"] = aa_old if aa_old == aa_new else f"{aa_old}/{aa_new}"
    return out


# ---------------------------------------------------------------------------
# HGVS-lite (reference hgvs.rs:17-45; public HGVS nomenclature)
# ---------------------------------------------------------------------------


def hgvs_g(chrom: str, pos: int, ref: str, alt: str) -> str:
    ref = "" if ref in ("-", None) else ref
    alt = "" if alt in ("-", None) else alt
    if len(ref) == 1 and len(alt) == 1:
        return f"{chrom}:g.{pos}{ref}>{alt}"
    if len(ref) == 0:
        return f"{chrom}:g.{pos}_{pos + 1}ins{alt}"
    end = pos + len(ref) - 1
    span = f"{pos}_{end}" if end > pos else f"{pos}"
    if len(alt) == 0:
        return f"{chrom}:g.{span}del"
    return f"{chrom}:g.{span}delins{alt}"


def _normalize_for_hgvs(pos: int, ref: str, alt: str) -> tuple[int, str, str]:
    """HGVS-clip raw alleles for notation (reference ``clip_alleles``,
    hgvs.rs:805-859): trim the shared prefix AND suffix unconditionally —
    unlike VEP variant normalization, which keeps same-length MNVs whole,
    the HGVS layer reclassifies a delins whose flanks match down to the
    bare substitution/insertion/deletion.  Output convention matches the
    hgvs_c/hgvs_p body: deletions anchor at their first deleted base; pure
    insertions anchor at the 5'-flank base (so a bare ``ref=''`` input
    passes through unchanged, while a VCF-padded insertion anchors at its
    retained prefix base)."""
    if not ref:
        return pos, ref, alt
    start, r, a = pos, ref, alt
    i = 0
    while i < len(r) and i < len(a) and r[i] == a[i]:
        i += 1
    if i:
        start += i
        r, a = r[i:], a[i:]
    j = 0
    while j < len(r) - 0 and j < len(a) and len(r) - j > 0 and len(a) - j > 0 and r[len(r) - 1 - j] == a[len(a) - 1 - j]:
        j += 1
    if j:
        r, a = r[: len(r) - j], a[: len(a) - j]
    if (r, a) == (ref, alt):
        return pos, ref, alt
    if not r:  # pure insertion: anchor at the 5'-flank base
        return start - 1, r, a
    return start, r, a


def _cds_first_offset(t: Transcript, pos: int, ref_len: int) -> int | None:
    """0-based CDS offset of the *transcript-orientation first* affected
    base of a ref span [pos, pos+ref_len-1] (on − strand the genomic
    rightmost base is transcript-first)."""
    g = pos if t.strand >= 0 else pos + max(ref_len, 1) - 1
    return _genomic_to_cds_offset(t, g)


def _shift3(cds: str, start0: int, seq: str) -> tuple[int, str]:
    """HGVS 3'-rule: roll a del/ins event rightward while the base following
    the event equals its first base (``hgvs.rs`` 3'-shifting; published HGVS
    recommendation).  Returns (new start0, rotated event sequence)."""
    s, rot = start0, list(seq)
    ln = len(rot)
    while ln and s + ln < len(cds) and cds[s + ln] == rot[0]:
        rot.append(rot.pop(0))
        s += 1
    return s, "".join(rot)


def _split_hgvs_coord(value: str) -> tuple[int, str | None] | None:
    """Split an HGVS cDNA coordinate string into (numeric head, signed
    intron-offset suffix) (reference split_hgvs_coord, hgvs.rs:1398-1409;
    a leading ``*`` is stripped before splitting)."""
    body = value[1:] if value.startswith("*") else value
    split_idx = None
    for i, ch in enumerate(body):
        if i > 0 and ch in "+-":
            split_idx = i
            break
    coord_part = body if split_idx is None else body[:split_idx]
    offset_part = None if split_idx is None else body[split_idx:]
    try:
        return int(coord_part), offset_part
    except ValueError:
        return None


def _coding_cdna_bounds(t: Transcript) -> tuple[int, int] | None:
    """Start/stop-codon cDNA anchors for HGVS ``c.`` coordinates: the
    cached ``cdna_coding_start``/``cdna_coding_end`` when both present,
    else derived from the genomic CDS anchors through the (mapper-aware)
    transcript converter (reference coding_cdna_bounds, hgvs.rs:1200-1213)."""
    if t.cdna_coding_start is not None and t.cdna_coding_end is not None:
        return t.cdna_coding_start, t.cdna_coding_end
    if t.cds_start is None or t.cds_end is None:
        return None
    start_anchor = t.cds_start if t.strand >= 0 else t.cds_end
    end_anchor = t.cds_end if t.strand >= 0 else t.cds_start
    s = genomic_to_cdna_index_for_transcript(t, start_anchor)
    e = genomic_to_cdna_index_for_transcript(t, end_anchor)
    if s is None or e is None:
        return None
    return s, e


def shift_to_hgvs_coding_coordinates(t: Transcript, raw_cdna_position: str) -> str | None:
    """Convert an absolute (possibly intron-offset) cDNA coordinate string
    into HGVS ``c.`` space: ``-N`` before the start codon, ``*N`` after the
    stop codon, a ``+`` offset anchored exactly at the stop codon renders as
    a bare star offset (reference shift_to_hgvs_coding_coordinates,
    hgvs.rs:1262-1300)."""
    parsed = _split_hgvs_coord(raw_cdna_position)
    if parsed is None:
        return None
    coord, intron_offset = parsed
    bounds = _coding_cdna_bounds(t)
    if bounds is None:
        return raw_cdna_position
    start_codon, stop_codon = bounds
    prefix = ""
    coord_text = None
    if coord > stop_codon:
        coord -= stop_codon
        prefix = "*"
    elif coord == stop_codon and intron_offset is not None:
        prefix = "*"
        coord_text = ""
        intron_offset = intron_offset.lstrip("+")
    if not prefix:
        if coord >= start_codon:
            coord += 1
        coord -= start_codon
        coord_text = str(coord)
    elif coord_text is None:
        coord_text = str(coord)
    return f"{prefix}{coord_text}{intron_offset or ''}"


def _native_refseq_hgvs_anchor(t: Transcript) -> bool:
    """Native-RefSeq gate for the pre-edit exon-geometry HGVS anchor
    overrides (reference
    native_refseq_hgvs_intronic_anchor_uses_post_gap_numbering,
    hgvs.rs:1302-1308)."""
    return t.source == "RefSeq" and t.transcript_id[:2] in ("NM", "NR", "XM", "XR")


def _native_refseq_insertion_shift_at_anchor(
    t: Transcript, exon_coord: int, mapper_coord: int
) -> bool:
    """True when the mapper/exon-geometry coordinate disagreement at an
    HGVS anchor is exactly the cumulative positive ``_rna_edit`` insertion
    shift (reference native_refseq_insertion_shift_at_anchor,
    hgvs.rs:1310-1328)."""
    offset = 0
    for edit in t.refseq_edits:
        if edit.skip_refseq_offset or edit.end >= exon_coord:
            continue
        if edit.replacement_len is None:
            continue
        replaced = edit.end - edit.start + 1
        offset += edit.replacement_len - replaced
    return offset > 0 and exon_coord + offset == mapper_coord


def _exon_geometry_twin(t: Transcript) -> Transcript:
    """A shallow copy of the transcript with the mapper cleared, for the
    pre-edit exon-geometry raw position."""
    import copy as _copy

    twin = _copy.copy(t)
    twin.cdna_mapper_segments = []
    return twin


def native_refseq_pre_coding_intronic_exon_geometry_position(
    t: Transcript, genomic_pos: int, mapper_position: str
) -> str | None:
    """Native RefSeq transcripts with a leading ``_rna_edit`` insertion
    keep HGVS INTRONIC anchors on the pre-edit exon boundary even though
    the mapper's cDNA coordinates are shifted; one-base deleted gaps still
    follow the larger exon-geometry anchor (reference
    native_refseq_pre_coding_intronic_exon_geometry_position,
    hgvs.rs:1330-1363)."""
    if not _native_refseq_hgvs_anchor(t) or not t.cdna_mapper_segments:
        return None
    parsed = _split_hgvs_coord(mapper_position)
    if parsed is None:
        return None
    mapper_coord, mapper_offset = parsed
    exon_geometry_position = raw_cdna_position_from_genomic(
        _exon_geometry_twin(t), genomic_pos
    )
    if exon_geometry_position is None:
        return None
    parsed = _split_hgvs_coord(exon_geometry_position)
    if parsed is None:
        return None
    exon_coord, exon_offset = parsed
    insertion_shift = exon_coord < mapper_coord and _native_refseq_insertion_shift_at_anchor(
        t, exon_coord, mapper_coord
    )
    if exon_offset == mapper_offset and (exon_coord > mapper_coord or insertion_shift):
        return exon_geometry_position
    return None


def native_refseq_noncoding_exonic_pre_edit_position(
    t: Transcript, genomic_pos: int, mapper_position: str
) -> str | None:
    """Non-coding twin of the intronic anchor override: EXONIC positions on
    a non-coding native RefSeq row keep pre-edit exon-geometry numbering
    when the mapper shift is exactly the insertion offset (reference
    native_refseq_noncoding_exonic_pre_edit_position, hgvs.rs:1365-1396)."""
    if (
        not _native_refseq_hgvs_anchor(t)
        or not t.cdna_mapper_segments
        or _coding_cdna_bounds(t) is not None
    ):
        return None
    parsed = _split_hgvs_coord(mapper_position)
    if parsed is None:
        return None
    mapper_coord, mapper_offset = parsed
    if mapper_offset is not None:
        return None
    exon_geometry_position = raw_cdna_position_from_genomic(
        _exon_geometry_twin(t), genomic_pos
    )
    if exon_geometry_position is None:
        return None
    parsed = _split_hgvs_coord(exon_geometry_position)
    if parsed is None:
        return None
    exon_coord, exon_offset = parsed
    if exon_offset is not None:
        return None
    if exon_coord < mapper_coord and _native_refseq_insertion_shift_at_anchor(
        t, exon_coord, mapper_coord
    ):
        return exon_geometry_position
    return None


def _cds_relative_notation(t: Transcript, g: int) -> str | None:
    """HGVS cDNA coordinate string for a genomic position relative to the
    CDS: ``"N"`` inside the CDS, ``"-N"`` in the 5' UTR, ``"*N"`` in the
    3' UTR, ``"N+off"`` / ``"N-off"`` for intronic positions anchored at the
    nearest exon boundary.  Full reference pipeline
    (hgvs_cdna_position_from_genomic, hgvs.rs:1215-1260):
    mapper-aware raw position → native-RefSeq pre-edit anchor overrides →
    refseq offset adjustment of exonic heads (sequence-space beyond the
    stop codon, mapper-space elsewhere) → coding-coordinate shift."""
    raw = raw_cdna_position_from_genomic(t, g)
    if raw is None:
        return None
    has_intron_offset = any(ch in "+-" for ch in raw[1:])
    keep_exon_geometry_exonic = False
    if has_intron_offset:
        override = native_refseq_pre_coding_intronic_exon_geometry_position(t, g, raw)
        if override is not None:
            raw = override
    else:
        override = native_refseq_noncoding_exonic_pre_edit_position(t, g, raw)
        if override is not None:
            raw = override
            keep_exon_geometry_exonic = True
    if not has_intron_offset and not keep_exon_geometry_exonic:
        try:
            absolute_cdna = int(raw)
        except ValueError:
            return None
        if t.cdna_coding_end is not None and absolute_cdna > t.cdna_coding_end:
            off = refseq_sequence_offset_for_cdna(t, absolute_cdna)
            if off is not None:
                raw = str(absolute_cdna + off)
            else:
                raw = adjust_refseq_cdna_component(t, raw) or raw
        else:
            raw = adjust_refseq_cdna_component(t, raw) or raw
    return shift_to_hgvs_coding_coordinates(t, raw)


def _shifted_variant_for_notation(
    ref: str, alt: str, shift: "HgvsShift"
) -> tuple[int | None, str, str]:
    """The genomically 3'-shifted (pos, ref, alt) an HGVS formatter
    notates (reference format_hgvsc's reuse of HgvsGenomicShift,
    transcript_consequence.rs:4670-4705): deletions jump to the shifted
    span with the rolled deleted bases; insertions move the anchor by the
    walk and insert the rolled allele.  The caller passes the
    strand-appropriate shift (reference hgvs_shift_for_strand)."""
    if ref and not alt:  # deletion
        return shift.display_start(), shift.shifted_allele_string, ""
    if alt and not ref:  # insertion: the shift's start is VEP's swapped
        # right-flank (start == end + 1); this module's bare-insertion
        # convention anchors on the genomic LEFT flank
        out_allele = shift.shifted_output_allele
        if not out_allele or out_allele == "-":
            out_allele = shift.shifted_allele_string
        return shift.display_start() - 1, "", out_allele
    return None, ref, alt


def _shifted_insertion_dup_span(
    t: Transcript, alt: str, shift: "HgvsShift"
) -> tuple[int, int] | None:
    """Genomic span of the flank an insertion duplicates (reference
    apply_shifted_insertion_duplication, hgvs.rs:987-1032): the inserted
    allele equal to the 5' (or 3') genomic context renders as a dup of
    that flank; coordinates follow the transcript strand.  None when
    neither context matches or the span leaves the exon envelope (VEP
    keeps the plain insertion then)."""
    feature_alt = alt.upper() if t.strand >= 0 else revcomp(alt.upper())

    def orient(context: str) -> str:
        up = context.upper()
        return up if t.strand >= 0 else revcomp(up)

    dup5 = bool(shift.five_prime_context) and orient(shift.five_prime_context) == feature_alt
    dup3 = bool(shift.three_prime_context) and orient(shift.three_prime_context) == feature_alt
    if not dup5 and not dup3:
        return None
    alt_len = len(alt)
    ds = shift.display_start()
    if dup5:
        span = (ds - alt_len, ds - 1) if t.strand >= 0 else (ds, ds + alt_len - 1)
    else:
        span = (ds, ds + alt_len - 1) if t.strand >= 0 else (ds - alt_len, ds - 1)
    exons = t.sorted_exons()
    if span[0] < exons[0][0] or span[1] > exons[-1][1]:
        return None
    return span


def _is_native_refseq_transcript(t: Transcript) -> bool:
    """reference is_native_refseq_transcript (hgvs.rs:293-299)."""
    if t.source == "RefSeq":
        return True
    return t.transcript_id[:2] in ("NM", "NR", "XM", "XR")


def hgvsc_uses_genomic_shift(
    t: Transcript, ref: str, alt: str, shift: "HgvsShift | None"
) -> bool:
    """Whether HGVSc consumes the precomputed genomic shift (reference
    hgvsc_uses_genomic_shift, hgvs.rs:300-328): pure indels only; on
    native-RefSeq rows whose BAM-edit replay FAILED, the shift is kept
    only when the (USED_REF-adjusted) HGVS alleles still match the shift's
    original genomic payload
    (test_format_hgvsc_refseq_failed_bam_edit_suppresses_shifted_utr_
    deletion / _keeps_shift_when_alleles_match)."""
    if shift is None:
        return False
    ref_n = "" if ref in ("-", None) else ref
    alt_n = "" if alt in ("-", None) else alt
    if (not ref_n) == (not alt_n):  # not a pure indel
        return False
    if _is_native_refseq_transcript(t) and t.bam_edit_status == "failed":
        s_ref = shift.ref_orig_allele_string.replace("-", "")
        s_alt = shift.alt_orig_allele_string.replace("-", "")
        return ref_n.upper() == s_ref.upper() and alt_n.upper() == s_alt.upper()
    return True


def hgvsc_offset_for_output(
    t: Transcript, ref: str, alt: str, hgvsc: str | None,
    shift: "HgvsShift | None",
) -> int | None:
    """The VEP ``HGVS_OFFSET`` column: the signed genomic shift length when
    the shift was used for HGVSc — negative on minus-strand transcripts
    (reference hgvsc_offset_for_output, hgvs.rs:330-352)."""
    if shift is None or hgvsc is None:
        return None
    if not hgvsc_uses_genomic_shift(t, ref, alt, shift):
        return None
    if shift.shift_length == 0:
        return None
    return -shift.shift_length if t.strand < 0 else shift.shift_length


#: original-consequence terms that allow HGVSp output — Ensembl only emits
#: HGVSp when the original transcript variation is coding ($pre->{coding}),
#: even when 3'-shifting later moves an intronic indel into the CDS
#: (reference original_terms_allow_protein_hgvs,
#: transcript_consequence.rs:4218-4238)
_PROTEIN_HGVS_TERMS = frozenset({
    "missense_variant", "synonymous_variant", "stop_gained", "stop_lost",
    "start_lost", "frameshift_variant", "inframe_insertion",
    "inframe_deletion", "stop_retained_variant", "start_retained_variant",
    "protein_altering_variant", "incomplete_terminal_codon_variant",
    "coding_sequence_variant",
})


def original_terms_allow_protein_hgvs(terms: list[str]) -> bool:
    return any(term in _PROTEIN_HGVS_TERMS for term in terms)


def alternate_translation_for_vep_hgvs(
    t: Transcript, pos: int, ref: str, alt: str
) -> str | None:
    """VEP's HGVS-specific alternate translation: apply the variant to the
    HGVSP REFERENCE CDS (the CANONICAL cache when present — not the edited
    transcript sequence), append the 3'UTR, translate (reference
    alternate_translation_for_vep_hgvs, transcript_consequence.rs:3681-3775
    / Ensembl ``_get_alternate_cds``).  On edited-RefSeq rows this differs
    from translating the mutated EDITED cds — frameshift fsTer distances
    read the canonical frame (round 9, verified on the edited-transcript
    differential grid).  ``pos``/``ref``/``alt`` use this module's
    left-flank anchor convention (empty ref = pure insertion after pos)."""
    reference_cds = reference_translateable_seq_for_hgvsp_of(t)
    if reference_cds is None:
        return None
    lead = _leading_n(reference_cds)
    ref_n = "" if ref in ("-", None) else ref
    alt_n = "" if alt in ("-", None) else alt
    if len(ref_n) == 0:
        vstart = pos + 1  # VEP swapped insertion start
        anchor = vstart - 1 if t.strand >= 0 else vstart
        raw = genomic_to_cds_index(t, anchor)
        if raw is None:
            altp = vstart if t.strand >= 0 else vstart - 1
            r2 = genomic_to_cds_index(t, altp)
            raw = (r2 - 1) if (r2 is not None and r2 >= 1) else None
        if raw is None:
            return None
        raw += lead
        adj = adjust_refseq_cds_sequence_index_for_hgvsp_reference(t, raw, lead)
        cds_idx = adj if adj is not None else raw
        cds_start_1, cds_end_1 = cds_idx + 2, cds_idx + 1
    else:
        idxs = []
        for p in range(pos, pos + len(ref_n)):
            raw = genomic_to_cds_index(t, p)
            if raw is None:
                return None
            raw += lead
            adj = adjust_refseq_cds_sequence_index_for_hgvsp_reference(t, raw, lead)
            idxs.append(adj if adj is not None else raw)
        idxs.sort()
        cds_start_1, cds_end_1 = idxs[0] + 1, idxs[-1] + 1
    if cds_start_1 == 0 or cds_start_1 > len(reference_cds) + 1:
        return None
    if cds_end_1 > len(reference_cds):
        return None
    a = (alt_n if t.strand >= 0 else revcomp(alt_n)).upper()
    alt_seq = reference_cds[: cds_start_1 - 1] + a + reference_cds[cds_end_1:]
    utr = three_prime_utr_seq_of(t)
    if utr:
        alt_seq += utr
    return translate(alt_seq.upper())


def protein_hgvs_data_for_variant(
    t: Transcript, pos: int, ref: str, alt: str
) -> ProteinHgvs | None:
    """ProteinHgvs candidate state of a coding variant — the compact
    re-expression of the reference's classification payload
    (classify_coding_change → build_protein_hgvs_data,
    transcript_consequence.rs:3369,5855): peptides from the VEP
    ``codon()`` window over the touched codons, translations from the
    annotated/mutated CDS, canonical cache preferred as the HGVSp
    reference translation.  Insertions use this module's left-flank
    anchor convention (same as :func:`hgvs_p`)."""
    if t.cds_sequence is None:
        return None
    ref = "" if ref in ("-", None) else ref
    alt = "" if alt in ("-", None) else alt
    if not ref and not alt:
        return None
    pos, ref, alt = _normalize_for_hgvs(pos, ref, alt)
    off = _cds_first_offset(t, pos, len(ref))
    if off is None and not ref and alt:
        # pure insertion whose 5'-genomic flank is intronic/outside: the
        # OTHER flank can still anchor — VEP's cds_start_exon_boundary
        # insertions classify through the alternate flank and their HGVSp
        # payload exists (reference classify_insertion alternate anchor;
        # round-10 grid: intron-last-base/exon-first-base insertions)
        other = _genomic_to_cds_offset(t, pos + 1)
        if other is not None and not (t.strand >= 0 and other == 0):
            off = other - 1 if t.strand >= 0 else other + 1
    if off is None:
        return None
    # the classification layer's refusal rules apply to the HGVSp payload
    # too: edited-bounds overruns, deleted-gap bases, and boundary-crossing
    # spans produce no protein notation (round 9, differential grid)
    if ref:
        span = range(pos, pos + len(ref))
        if any(_nm_raw_cdna_outside_coding(t, p) for p in span):
            return None
        if prefers_exon_geometry_over_mapper(t) and (
            len(t.cdna_mapper_segments) >= 2 or t.refseq_edits
        ):
            if any(
                mapper_deleted_gap_cdna_index(t, p) is not None
                or refseq_deleted_edit_cdna_index(t, p) is not None
                for p in span
            ):
                return None
        if len(ref) > 1:
            offs = [_genomic_to_cds_offset(t, p) for p in span]
            if any(o is None for o in offs):
                return None
            so = sorted(offs)
            if so[-1] - so[0] != len(ref) - 1:
                return None
    cds = t.cds_sequence.upper()
    off += _leading_n(cds)
    # RefSeq misalignment: shift the raw exon-geometry index into the
    # edited-sequence space the cached CDS lives in (reference
    # classify_coding_change, transcript_consequence.rs:5267-5271 — the
    # classification this payload mirrors applies the same adjust; without
    # it a no-mapper edited transcript anchors the shifted-insertion
    # classification one codon early, p.GluGlu24= instead of VEP's
    # p.GluGlu25= on NM_015120)
    adj = adjust_refseq_cds_sequence_index(t, off, _leading_n(cds))
    if adj is not None:
        off = adj
    var_ref = ref.upper() if t.strand >= 0 else revcomp(ref.upper())
    var_alt = alt.upper() if t.strand >= 0 else revcomp(alt.upper())
    if off + len(var_ref) > len(cds) or (
        var_ref and cds[off : off + len(var_ref)] != var_ref
    ):
        return None
    ins_point = off if var_ref else (off + 1 if t.strand >= 0 else off)
    new_cds = cds[:ins_point] + var_alt + cds[ins_point + len(var_ref) :]
    anchor = off if var_ref else max(ins_point - 1, 0)
    ci0 = anchor // 3
    ci1 = (anchor + max(len(var_ref), 1) - 1) // 3
    win_s = ci0 * 3
    win_e = min((ci1 + 1) * 3, len(cds))
    ref_codon = cds[win_s:win_e]
    alt_window_len = len(ref_codon) + len(var_alt) - len(var_ref)
    alt_codon = new_cds[win_s : win_s + alt_window_len] if alt_window_len > 0 else ""
    frameshift = (len(var_alt) - len(var_ref)) % 3 != 0
    # codon-boundary pure insertion: the reference payload carries the
    # classification's DASH form — ref '-' over the flanking-codon pair,
    # higher position first (build_protein_hgvs_data's insertion swap,
    # rs:3394-3400, consuming class.amino_acids "-/X" / "-/<pep>"; round 9,
    # verified on the edited-transcript differential grid)
    _ldn = _leading_n(cds)
    # the codon-boundary decision lives in PADDED sequence space, exactly
    # like the classification's at_codon_boundary (reference ins_point %
    # 3 over the leading-N-padded CDS; round-10 grid, minus-strand
    # cds_start_NF arm: unpadded framing rendered insSer where the
    # reference reframes to p.Val82dup)
    boundary_ins = (
        not var_ref and ins_point % 3 == 0 and ins_point > _ldn
    )
    # stop-retained insertion: VEP overrides frameshift -> inframe
    # regardless of alt_len % 3 (reference classify_insertion,
    # rs:6210-6215 — the payload then renders the flanking-insertion form
    # p.Ter97_Leu98insThr with the RE-FRAMED inserted residues, not
    # fsTer; round 9, verified on the differential grid)
    stop_retained_ins = False
    stop_retained_del = False
    if frameshift:
        if not var_ref:
            cls_flags = classify_coding_indel(t, pos + 1, pos, "-", alt, True)
            stop_retained_ins = bool(
                cls_flags and cls_flags.get("stop_retained")
            )
            if stop_retained_ins:
                frameshift = False
        else:
            # frameshift DELETIONS keep their frameshift flag; the
            # stop-retained '*'/'*' payload override below (reference
            # rs:5866-5895) is the only reframe on this arm
            cls_flags = classify_coding_indel(
                t, pos, pos + len(ref) - 1, ref, alt or "", False
            )
            stop_retained_del = bool(
                cls_flags and cls_flags.get("stop_retained")
            )
    prot_old = translate(cds)
    cached = failed_refseq_cached_protein(t, cds)
    if cached is not None:
        prot_old = cached
    ref_translation = (
        t.translation_seq_canonical
        if t.translation_seq_canonical is not None
        else prot_old
    )
    # flags come from the classification of the SAME event: this module's
    # left-flank anchor (pos = 5' flank) maps to classify's bare-insertion
    # convention (pos = first position after the anchor) by +1 — without
    # it a pure insertion classifies one base upstream, firing start_lost
    # for codon-boundary insertions the reference leaves as frameshift-only
    terms = classify(t, pos + 1 if not ref else pos, ref or "-", alt or "-")
    preferred = None
    if frameshift or "stop_lost" in terms:
        # reference preferred_alt_translation_extension_for_hgvsp: the
        # canonical-space VEP alternate wins; the edited-cds translation
        # is the fallback (rs:3647-3654,6320-6330)
        preferred = alternate_translation_for_vep_hgvs(
            t, pos, ref, alt
        ) or translated_alt_protein_for_hgvs(t, new_cds)
    # failed-BAM-edit rows: the reference derives HGVS peptide alleles from
    # the classification's amino_acids, whose REFERENCE side reads the
    # CACHED protein, not the raw-CDS translation (reference
    # reference_aas_for_consequence feeding build_protein_hgvs_data's
    # peptide_alleles — raw translations of failed edits carry internal
    # stops that must not surface as Ter in HGVSp)
    ref_peptide = _local_peptide_from_codon_window(ref_codon)
    if cached is not None and ci1 < len(cached):
        cached_window = cached[ci0 : ci1 + 1]
        if len(cached_window) == len(ref_peptide):
            ref_peptide = cached_window
    alt_peptide = _local_peptide_from_codon_window(alt_codon)
    p_start, p_end = ci0 + 1, ci1 + 1
    if boundary_ins:
        pep_lo = (ins_point - _ldn) // 3
        p_start, p_end = pep_lo + 1, pep_lo
        ref_peptide = "-"
        if frameshift:
            alt_peptide = "X"
        elif stop_retained_ins or len(var_alt) % 3 != 0:
            # demoted frameshift: the inserted residues come from the
            # RE-FRAMED alternate translation (reference boundary-inframe
            # slice new_aas[ins_codon ..= (ins_point+alt_len-1)/3])
            new_aas = translate(new_cds)
            a0 = (ins_point - _ldn) // 3
            a1 = (ins_point - _ldn + len(var_alt) - 1) // 3 + 1
            alt_peptide = new_aas[a0 : min(a1, len(new_aas))] or "X"
        else:
            alt_peptide = _local_peptide_from_codon_window(var_alt)
    # stop-retained frameshift deletion whose first affected codon is a
    # stop in BOTH the reference and the (extension-preferred) alternate
    # translation: the payload collapses to '*'/'*' with frameshift=false —
    # a zero-shift row then renders p.TerN=, while a 3'-shift replay may
    # still recompute the alt window to p.TerNTerextTer? (reference
    # classify_coding_change override, rs:5866-5895; round-10 grid)
    if frameshift and stop_retained_del:
        hgvs_new = preferred if preferred is not None else translate(new_cds)
        if (
            ci0 < len(prot_old)
            and prot_old[ci0] == "*"
            and ci0 < len(hgvs_new)
            and hgvs_new[ci0] == "*"
        ):
            return ProteinHgvs(
                start=ci0 + 1,
                end=ci0 + 1,
                ref_peptide="*",
                alt_peptide="*",
                ref_translation=ref_translation,
                alt_translation=hgvs_new,
                alt_translation_extension=(
                    preferred
                    if preferred is not None
                    else translated_alt_protein_for_hgvs(t, new_cds)
                ),
                frameshift=False,
                start_lost="start_lost" in terms,
                stop_lost="stop_lost" in terms,
                native_refseq=refseq_has_edited_sequence_state(t),
            )
    return ProteinHgvs(
        start=p_start,
        end=p_end,
        ref_peptide=ref_peptide,
        alt_peptide=alt_peptide,
        ref_translation=ref_translation,
        # frameshift / stop-lost payloads carry the UTR-EXTENDED alternate
        # translation as both the walked translation and the extension —
        # plain events keep the mutated-CDS translation with NO extension
        # (reference preferred_hgvs_alt_translation, rs:6320-6352: without
        # this a frameshift deletion at the protein's last codon walks past
        # the alternate's end and renders `del` instead of `fsTer#`)
        alt_translation=(
            preferred if preferred is not None else translate(new_cds)
        ),
        alt_translation_extension=preferred,
        frameshift=frameshift,
        start_lost="start_lost" in terms,
        stop_lost="stop_lost" in terms,
        native_refseq=refseq_has_edited_sequence_state(t),
    )


def protein_hgvs_via_formatter(
    t: Transcript, pos: int, ref: str, alt: str, shift_hgvs: bool = True
) -> str | None:
    """Unshifted HGVSp through the CLASSIFICATION payload + the ported
    reference formatter — the reference's own architecture (its fallback
    is always ``format_hgvsp(translation, cc.protein_hgvs, shift_hgvs)``,
    transcript_consequence.rs:1034-1042).  Round 9: the pipeline's
    unshifted path previously rendered through :func:`hgvs_p`'s bespoke
    walk, which diverged from the reference formatter on start-lost
    rendering (``p.<Ref>N?`` for ANY first residue, not just Met), the
    frameshift stop-distance rule (absolute first-``*`` search per
    Ensembl's ``_stop_loss_extra_AA``), and the peptide-level insertion
    shift/duplication pipeline — all verified against the reference
    implementation run on a 9102-pair differential grid."""
    if t.cds_sequence is None:
        return None
    pd = protein_hgvs_data_for_variant(t, pos, ref, alt)
    if pd is None:
        return None
    pid = t.translation_stable_id or t.transcript_id
    return format_hgvsp(pid, pd, shift_hgvs)


def protein_hgvs_for_output(
    t: Transcript, pos: int, ref: str, alt: str,
    shift: "HgvsShift | None",
    terms: list[str] | None = None,
    shift_hgvs: bool = True,
) -> str | None:
    """HGVSp output dispatch with genomic-shift replay (reference
    protein_hgvs_for_output, transcript_consequence.rs:4807-5010):

    1. suppressed unless the ORIGINAL consequence terms are coding
       (shifted_hgvsp_is_suppressed_when_original_terms_are_splice_only);
    2. zero shift / substitutions format the original variant;
    3. shifted indels replay the 3'-shifted variant (deletions jump to the
       shifted span, insertions rotate the allele —
       protein_hgvs_shifted_variant) through the same protein formatter;
    4. a shifted span that no longer maps to coding coordinates returns
       None, NOT the unshifted fallback (VEP's translation_start guard);
    5. a failed shifted replay falls back to the original notation
       (protein_hgvs_for_output_falls_back_to_original_when_shifted_
       frameshift_replay_fails)."""
    if terms is None:
        terms = classify(t, pos, ref, alt)
    if not original_terms_allow_protein_hgvs(terms):
        return None
    if not shift_hgvs:
        # --shift_hgvs 0: the reference's gate returns the FALLBACK — the
        # original unshifted notation — skipping every shift replay
        # (RefSeq transcript-sequence shift included)
        # (transcript_consequence.rs:4824-4826)
        return protein_hgvs_via_formatter(t, pos, ref, alt, shift_hgvs)
    ref_n = "" if ref in ("-", None) else ref
    alt_n = "" if alt in ("-", None) else alt
    # VEP-normalize raw VCF-anchored indels (shared prefix, and suffix for
    # length-changing pairs) — the reference dispatch receives the
    # from_vcf-trimmed VariantInput, and this dispatch's conventions below
    # (left-flank anchor, swapped insertion coords) assume BARE alleles.
    # Round 9: anchored inputs previously fell through as non-insertions,
    # mis-anchoring the shifted-TVA window by the anchor length.
    pos_eff = pos
    if ref_n and alt_n and len(ref_n) != len(alt_n):
        pre = 0
        for x, y in zip(ref_n, alt_n):
            if x != y:
                break
            pre += 1
        suf = 0
        m = min(len(ref_n), len(alt_n)) - pre
        while (
            suf < m
            and ref_n[len(ref_n) - 1 - suf] == alt_n[len(alt_n) - 1 - suf]
        ):
            suf += 1
        r2 = ref_n[pre : len(ref_n) - suf]
        a2 = alt_n[pre : len(alt_n) - suf]
        if pre or suf:
            # pure insertion keeps pos as the 5' FLANK (last shared base);
            # deletions/delins anchor at the first changed base
            pos_eff = pos + pre - 1 if not r2 else pos + pre
            ref_n, alt_n = r2, a2
    is_insertion = not ref_n and bool(alt_n)
    # VEP parser coordinates: insertions are the SWAPPED form
    # (start == end + 1) around this module's left-flank anchor ``pos``
    vs0 = pos_eff + 1 if is_insertion else pos_eff
    ve0 = pos_eff if is_insertion else pos_eff + max(len(ref_n), 1) - 1
    # edited-RefSeq rows compute their own transcript-sequence shift;
    # insertions PREFER it over the genomic shift, deletions the reverse
    # (reference protein_hgvs_for_output, rs:4833-4843)
    refseq_shift = None
    if len(ref_n) != len(alt_n) and refseq_uses_transcript_shift_for_hgvsp(t):
        refseq_shift = refseq_transcript_shift_for_hgvs_protein(
            t, vs0, ve0, ref_n or "-", alt_n or "-", existing=shift
        )
    shift = (refseq_shift or shift) if is_insertion else (shift or refseq_shift)
    if shift is None:  # no shift state: the original notation verbatim
        return protein_hgvs_via_formatter(t, pos, ref, alt, shift_hgvs)
    pd0 = (
        protein_hgvs_data_for_variant(t, pos, ref, alt)
        if t.cds_sequence is not None
        else None
    )
    # star-equal insertion suppression: VEP's hgvs_protein returns undef
    # for an insertion whose original PAYLOAD peptides are ref='*' alt='*'
    # — BEFORE the zero-shift early return (reference checks the
    # ProteinHgvsData alleles, rs:4850-4860; round 9 moved this off the
    # formatted-string regex, which the stop-retained insertion rendering
    # no longer matches)
    if not ref_n and alt_n:
        if (
            pd0 is not None
            and pd0.ref_peptide == "*"
            and pd0.alt_peptide == "*"
        ):
            return None
        # the silent-at-stop form can also surface through the legacy
        # notation walk (p.TerN=) — the reference suppresses these too
        # (its grid rows emit no HGVSp for stop-boundary insertions)
        _legacy = hgvs_p(t, pos, ref, alt)
        if _legacy is not None and re.search(r":p\.Ter\d+=$", _legacy):
            return None
    original = (
        format_hgvsp(t.translation_stable_id or t.transcript_id, pd0, shift_hgvs)
        if pd0 is not None
        else None
    )
    if shift.shift_length == 0 or len(ref_n) == len(alt_n):
        return original
    # edited-RefSeq shifted-insertion candidate cascade (reference
    # protein_hgvs_for_output, rs:4900-4965): reclassify the shifted
    # variant, compare its peptide window against the literal-shifted and
    # shifted-TVA candidates, and collapse to the 'equal window'
    # (``p.<Ref><pos>=``) when the insertion is a no-change over an
    # upstream repeat block absorbed by the RNA-edit mapper gap
    if is_insertion and refseq_uses_transcript_shift_for_hgvsp(t):
        pid = t.translation_stable_id or t.transcript_id
        sv_ref = protein_hgvs_shifted_variant_for_reference(
            t, vs0, ve0, "-", alt_n, vs0, ve0, "-", alt_n, shift,
        )
        # sv_ref keeps VEP's swapped insertion coords → left-flank anchor
        class_protein = protein_hgvs_data_for_variant(
            t, sv_ref.start - 1, "-", sv_ref.alt
        )
        literal_shifted = literal_shifted_indel_protein_hgvs_data(t, shift)
        # the shifted-TVA candidate carries the ORIGINAL classification's
        # frameshift/start/stop flags (reference computes `shifted` once,
        # WITH fallback, before the insertion cascade — rs:4884-4887; a
        # stop-retained re-framed insertion must not fall back to the
        # len%3 frameshift default)
        shifted_window = shifted_tva_protein_hgvs_data(
            t, vs0, ve0, "-", alt_n, vs0, ve0, "-", alt_n, shift,
            fallback=pd0,
        )
        if class_protein is not None:
            for candidate in (literal_shifted, shifted_window):
                if candidate is None:
                    continue
                equal = refseq_shifted_insertion_equal_window(class_protein, candidate)
                if equal is not None:
                    return format_hgvsp(pid, equal, True)
        # prefer the literal-shifted delins over a shifted dup (reference
        # maybe_prefer_literal_shifted_refseq_insertion_candidate)
        if shifted_window is not None and literal_shifted is not None:
            shifted_s = format_hgvsp(pid, shifted_window, True)
            literal_s = format_hgvsp(pid, literal_shifted, True)
            if (
                shifted_s is not None and shifted_s.endswith("dup")
                and literal_s is not None and "delins" in literal_s
            ):
                return literal_s
            if shifted_s is not None:
                return shifted_s
    # generic shifted arm (reference rs:4884-5000): the shifted TVA peptide
    # window renders through the formatter, with the ORIGINAL classification
    # payload as the fallback — round 9 replaced the bespoke hgvs_p
    # re-derivation here, which anchored insertion windows one codon off
    # and missed the peptide-level shift/duplication pipeline (verified
    # against the reference implementation on the differential grid)
    pd_original = protein_hgvs_data_for_variant(t, pos, ref, alt)
    shifted_data = shifted_tva_protein_hgvs_data(
        t, vs0, ve0, ref_n or "-", alt_n or "-",
        vs0, ve0, ref_n or "-", alt_n or "-",
        shift, fallback=pd_original,
    )
    # VEP guard: the shifted coordinates must still map through the
    # transcript mapper to protein coordinates, else HGVSp is undef with
    # NO unshifted fallback (transcript_consequence.rs:4988-4994)
    if shift.shift_length > 0:
        sv = protein_hgvs_shifted_variant(
            vs0, ve0, ref_n or "-", alt_n or "-",
            vs0, ve0, ref_n or "-", alt_n or "-",
            shift, t.strand,
        )
        if shifted_tva_coords_from_mapper(t, sv.start, sv.end) is None:
            return None
    data = shifted_data if shifted_data is not None else pd_original
    if data is None:
        return None
    pid = t.translation_stable_id or t.transcript_id
    return format_hgvsp(pid, data, True)


def hgvs_c(
    t: Transcript, pos: int, ref: str, alt: str,
    shift: "HgvsShift | None" = None,
    _shifted_replay: bool = False,
) -> str | None:
    """cDNA notation: substitutions, del/ins/dup/delins with 3'-shifting and
    dup detection when ``cds_sequence`` context is available (reference
    ``hgvs.rs:17-45``); UTR (``c.-N`` / ``c.*N``) and intronic
    (``c.N±off``) coordinates for positions outside the CDS.  Raw VCF
    alleles are VEP-normalized first, so padded indels (``GGCT>G``)
    notate by their truly changed bases; a caller-supplied bare insertion
    (``ref=''``) keeps the pos-is-5'-flank convention.

    ``shift``: an externally computed genomic 3'-shift (VEP computes it
    from the reference FASTA; reference ``HgvsGenomicShift`` consumed by
    ``format_hgvsc``, hgvs.rs/transcript_consequence.rs:4670).  When
    present with a nonzero length, the notation renders the SHIFTED
    variant — e.g. a deletion of a whole frameshift intron rolls into the
    next exon and notates with exonic c. coordinates
    (issue_orai1_..._keeps_csv_but_emits_shifted_hgvsp: c.127_131del)."""
    ref = "" if ref in ("-", None) else ref
    alt = "" if alt in ("-", None) else alt
    pos, ref, alt = _normalize_for_hgvs(pos, ref, alt)
    # the shift gate compares the USED_REF-adjusted allele (the engine
    # passes hgvsc_ref_allele = used_ref.unwrap_or(ref) into format_hgvsc,
    # transcript_consequence.rs:1020-1021) — compute it up front
    _gate_ref = ref
    if ref and uses_refseq_transcript_reference(t):
        _gate_ref = (
            used_ref_for_transcript_variant(t, pos, pos + len(ref) - 1, ref) or ref
        )
    # the ORIGINAL variant must touch the transcript: VEP derives HGVSc
    # coordinates from the row's cDNA display, which is absent for a
    # variant outside the transcript span — a 3'-shift rolling an outside
    # insertion INTO the transcript does not resurrect it (reference
    # hgvsc_coords_from_output_cdna_position; round 9, verified on the
    # differential grid).  The gate judges the ORIGINAL coordinates only:
    # a legitimate shift REPLAY may land outside the span (exonic deletion
    # rolled past the annotated end — format_hgvsc_genomic_shift_cluster)
    if not _shifted_replay:
        if not ref:
            if not (t.start < pos + 1 <= t.end):
                return None
        elif not _overlaps(pos, pos + len(ref) - 1, t.start, t.end):
            return None
    if hgvsc_uses_genomic_shift(t, _gate_ref, alt, shift):
        s_pos, s_ref, s_alt = _shifted_variant_for_notation(ref, alt, shift)
        if s_pos is not None:
            # shifted-insertion duplication of a flank context — rendered
            # from the dup span's own coordinates (intronic spans keep the
            # c.N±off / n.N±off form), before any transcript-space walk
            if s_alt:
                dup_span = _shifted_insertion_dup_span(t, s_alt, shift)
                if dup_span is not None:
                    pfx2 = (
                        "c." if t.cds_start is not None and t.cds_end is not None
                        else "n."
                    )
                    lo, hi = dup_span
                    g1, g2 = (lo, hi) if t.strand >= 0 else (hi, lo)
                    n1 = _cds_relative_notation(t, g1)
                    n2 = _cds_relative_notation(t, g2) if g2 != g1 else n1
                    if n1 is not None and n2 is not None:
                        span = f"{n1}_{n2}" if n2 != n1 else f"{n1}"
                        return f"{t.transcript_id}:{pfx2}{span}dup"
            if shift.shift_length > 0:
                # the shifted variant REPLACES the original for notation:
                # a shifted span that no longer maps (e.g. rolled past the
                # transcript end or the valid ``*N`` star range) suppresses
                # HGVSc entirely rather than falling back to the unshifted
                # coords (test_format_hgvsc_suppresses_shifted_noncoding_
                # coords_past_transcript_end / _utr_coords_past_valid_
                # star_range)
                return hgvs_c(t, s_pos, s_ref, s_alt, _shifted_replay=True)
    # HGVSc renders against the USED_REF — the edited transcript's own
    # reference bases — on RefSeq rows with live transcript state
    # (reference engine: hgvsc_ref_allele = used_ref.unwrap_or(ref),
    # transcript_consequence.rs:1020-1021)
    if ref and uses_refseq_transcript_reference(t):
        ref = used_ref_for_transcript_variant(t, pos, pos + len(ref) - 1, ref) or ref
    # non-coding transcripts use spliced-transcript (``n.``) numbering
    # (hgvs.rs test_format_hgvsc_uses_non_coding_numbering)
    pfx = "c." if t.cds_start is not None and t.cds_end is not None else "n."

    def _per_end_render() -> str | None:
        # per-genomic-end coordinate rendering: UTR / intronic / n.
        # positions and CDS spans that cross an exon boundary all notate
        # from _cds_relative_notation of each end (reference
        # notation_to_hgvsc_coords + hgvs_cdna_position_from_genomic —
        # e.g. a deletion running off an exon renders c.151_151+2del)
        r = ref if t.strand >= 0 else revcomp(ref)
        a = alt if t.strand >= 0 else revcomp(alt)
        if len(r) == 0:
            # pure insertion BETWEEN the two flanking bases (pos = 5'
            # genomic flank): coords are the flanks in transcript order
            # (reference notation_to_hgvsc_coords ins arm, hgvs.rs:866-871
            # — round 9: previously suppressed outside the CDS)
            ga, gb = (pos, pos + 1) if t.strand >= 0 else (pos + 1, pos)
            n1 = _cds_relative_notation(t, ga)
            n2 = _cds_relative_notation(t, gb)
            if n1 is None or n2 is None:
                return None
            return f"{t.transcript_id}:{pfx}{n1}_{n2}ins{a}"
        g1 = pos if t.strand >= 0 else pos + len(r) - 1
        n1 = _cds_relative_notation(t, g1)
        if n1 is None:
            return None
        if len(r) == 1 and len(a) == 1:
            return f"{t.transcript_id}:{pfx}{n1}{r}>{a}"
        g2 = pos + len(ref) - 1 if t.strand >= 0 else pos
        n2 = _cds_relative_notation(t, g2) if g2 != g1 else n1
        if n2 is None:
            return None
        # a span crossing a deleted-edit gap or an intron can map
        # non-monotonically — HGVS spans render ascending by coordinate
        # head (intronic offsets tiebreak), reference c.151+2_154del
        h1 = _split_hgvs_coord(n1)
        h2 = _split_hgvs_coord(n2)
        if n2 != n1 and h1 is not None and h2 is not None:
            def _key(h, s):
                head, suffix = h
                off = 0
                if suffix:
                    try:
                        off = int(suffix)
                    except ValueError:
                        off = 0
                # 3'UTR star coordinates sort AFTER every plain coding
                # coordinate (reference compare_hgvs_positions; round-10
                # grid: c.366_*2del, not c.*2_366del)
                return (s.startswith("*"), head, off)
            if _key(h1, n1) > _key(h2, n2):
                n1, n2 = n2, n1
        span = f"{n1}_{n2}" if n2 != n1 else f"{n1}"
        if len(a) == 0:
            return f"{t.transcript_id}:{pfx}{span}del"
        if len(r) == len(a) and revcomp(r) == a:
            # same-length reverse-complement block: inversion (reference
            # hgvs_variant_notation inv kind, hgvs.rs:761-763)
            return f"{t.transcript_id}:{pfx}{span}inv"
        return f"{t.transcript_id}:{pfx}{span}delins{a}"

    off = _cds_first_offset(t, pos, len(ref))
    if off is None:
        # outside the spliced CDS (or any non-coding position)
        return _per_end_render()
    if (
        uses_refseq_transcript_reference(t)
        and (t.cdna_mapper_segments or t.refseq_edits)
        and (len(ref) != 1 or len(alt) != 1)
    ):
        # live RefSeq transcript state: indel/MNV coordinates must ride the
        # mapper/edit-aware pipeline per end (c.66_67, not the raw exon-
        # geometry c.63_64) — VEP's 3'-shift and duplication come only from
        # the genomic shift state on these rows, never from the raw-offset
        # walk below (round 9, verified on the edited-transcript grid)
        return _per_end_render()
    if len(ref) > 1:
        # a span whose other end leaves the exonic CDS (boundary-crossing
        # deletion/delins) must keep per-end intronic-offset coordinates
        other = pos + len(ref) - 1 if t.strand >= 0 else pos
        off_other = _genomic_to_cds_offset(t, other)
        if off_other is None or abs(
            off_other - (_genomic_to_cds_offset(t, pos if t.strand >= 0 else pos + len(ref) - 1) or 0)
        ) != len(ref) - 1:
            return _per_end_render()
    r = ref if t.strand >= 0 else revcomp(ref)
    a = alt if t.strand >= 0 else revcomp(alt)
    cds = t.cds_sequence.upper() if t.cds_sequence else None
    # leading-N phase pad: SEQUENCE operations (3'-shift, dup detection,
    # base reads) index the PADDED cds string; indel c. COORDINATES render
    # unpadded (reference notation_to_hgvsc_coords works in cdna space),
    # while the SNV c. coordinate is the padded display cds position
    # (reference format_hgvsc kind='>' uses the engine's cds_position
    # string; round-10 grid, cds_start_NF arm)
    _cl = _leading_n(t.cds_sequence) if t.cds_sequence else 0
    cpos = off + _cl + 1
    if len(r) == 1 and len(a) == 1:
        # live RefSeq transcript state (mapper segments / _rna_edits): the
        # exon-geometry CDS offset is NOT the HGVS coordinate — route
        # through the full mapper-aware pipeline (reference
        # hgvs_cdna_position_from_genomic; e.g. an internal mapper-encoded
        # deletion shifts c.101 → c.100)
        if uses_refseq_transcript_reference(t) and (
            t.cdna_mapper_segments or t.refseq_edits
        ):
            base = _cds_relative_notation(t, pos)
            if base is not None:
                return f"{t.transcript_id}:{pfx}{base}{r}>{a}"
        if cds is not None and cpos > len(cds):
            # geometry says coding but the cached CDS is shorter (trimmed /
            # incomplete terminal codon): the classification rejects it and
            # the coordinate falls back to the cDNA walk — c.*N past the
            # cached stop (reference format_hgvsc uses the display
            # cds_position only when present; round-10 grid, cds_end_NF arm)
            return _per_end_render()
        return f"{t.transcript_id}:c.{cpos}{r}>{a}"
    if len(r) == 0:  # pure insertion between the two flanking bases
        # an insertion whose two genomic flanks straddle an exon boundary
        # names the intronic side with an intron offset (c.71_71+1insT) —
        # per-end rendering, never the spliced-contiguous pair (round-10
        # grid, multi-intron arm)
        if not any(es <= pos and pos + 1 <= ee for es, ee in t.sorted_exons()):
            return _per_end_render()
        # 0-based PADDED CDS index the inserted seq lands before: the anchor
        # base (genomic pos) is the 5' flank on +, the 3' flank on −
        ins_at = (off + _cl) + 1 if t.strand >= 0 else (off + _cl)
        seq = a.upper()
        if cds is not None and shift is None:
            # NO genomic shift state (no FASTA): a documented cds-space
            # 3'-roll + dup heuristic over the spliced sequence.  WITH
            # shift state the genome is the authority — a zero-length
            # genomic shift means the event does NOT roll (the spliced
            # cds continues across introns the genome does not; round-10
            # grid, multi-intron arm), and nonzero shifts ride the
            # use_genomic_shift path above.
            i, rot = ins_at, list(seq)
            while rot and i < len(cds) and cds[i] == rot[0]:
                rot.append(rot.pop(0))
                i += 1
            ins_at, seq = i, "".join(rot)
            ln = len(seq)
            if ins_at - ln >= _cl and cds[ins_at - ln : ins_at] == seq:
                lo1, hi1 = ins_at - ln + 1 - _cl, ins_at - _cl
                span = f"{lo1}_{hi1}" if ln > 1 else f"{hi1}"
                return f"{t.transcript_id}:c.{span}dup"
        ins_c = ins_at - _cl
        return f"{t.transcript_id}:c.{ins_c}_{ins_c + 1}ins{seq}"
    if len(a) == 0:  # pure deletion
        start0, seq = (off + _cl, r.upper())
        if (
            shift is None
            and cds is not None
            and cds[start0 : start0 + len(seq)] == seq
        ):
            # cds-space 3'-roll heuristic — only WITHOUT genomic shift
            # state (see the insertion arm note)
            start0, seq = _shift3(cds, start0, seq)
        cstart, cend = start0 + 1 - _cl, start0 + len(seq) - _cl
        span = f"{cstart}_{cend}" if cend > cstart else f"{cstart}"
        return f"{t.transcript_id}:c.{span}del"
    # delins/inversion spans render in UNPADDED cdna-derived coordinates
    # (reference notation_to_hgvsc_coords — only the SNV kind reads the
    # padded display cds position)
    c1 = off + 1
    cend = c1 + len(r) - 1
    span = f"{c1}_{cend}" if cend > c1 else f"{c1}"
    if len(r) == len(a) and revcomp(r) == a:
        # same-length reverse-complement block: inversion (reference
        # hgvs_variant_notation inv kind, hgvs.rs:761-763)
        return f"{t.transcript_id}:c.{span}inv"
    return f"{t.transcript_id}:c.{span}delins{a}"


def _aa3(aa: str) -> str:
    """HGVS three-letter residue: unlike the generic AA3 table ('X' →
    'Xaa'), the HGVS protein notation displays the incomplete-codon
    placeholder X as 'Ter' (reference hgvs_aa_one_to_three,
    hgvs.rs:1847-1852; pinned by issue_136 p.Ter262=)."""
    if aa == "X":
        return "Ter"
    return AA3.get(aa, "Xaa")


def _ref_peptide_len(t: Transcript, prot_old: str) -> int:
    """VEP cached-peptide length for the stop-loss extension formula:
    the ANNOTATED CDS translation with trailing stops stripped (internal
    stops of LoF transcripts count).  ``prot_old`` translates
    ``cds_sequence``, which some caches pad with trailing context — so
    the codon count is bounded by the declared genomic coding span."""
    n_cod = len(prot_old)
    last = t.cds_end if t.strand >= 0 else t.cds_start
    if last is not None:
        off = _genomic_to_cds_offset(t, last)
        if off is not None:
            if t.cds_sequence:
                off += _leading_n(t.cds_sequence)  # phase-padded caches
            n_cod = min(n_cod, (off + 1) // 3)
    return len(prot_old[:n_cod].rstrip("*"))


def _stop_loss_extra(ref_len: int, prot_new_ext: str) -> int | None:
    """Non-frameshift stop-loss extension length (reference
    stop_loss_extra_aa, hgvs.rs:1821-1846): the first stop in the
    UTR-extended alternate translation, counted from the CACHED-peptide
    length ``ref_len`` — VEP stores the peptide without its terminal
    stop, so trailing stops are stripped but internal stops (LoF
    transcripts) count.  None when no stop is reachable or the extension
    is zero (both render 'extTer?' / suppress the suffix downstream)."""
    stop = prot_new_ext.find("*")
    if stop < 0:
        return None
    extra = stop + 1 - (ref_len + 1)
    return extra if extra > 0 else None


def hgvs_p(t: Transcript, pos: int, ref: str, alt: str) -> str | None:
    """Protein notation: substitutions, synonymous (=), stop gained (Ter),
    inframe del/ins/delins, frameshift (``fsTer#``), and stop-lost extension
    (``extTer#``) — reference ``hgvs.rs`` frameshift/extension notation."""
    if t.cds_sequence is None:
        return None
    ref = "" if ref in ("-", None) else ref
    alt = "" if alt in ("-", None) else alt
    if not ref and not alt:
        return None
    pos, ref, alt = _normalize_for_hgvs(pos, ref, alt)
    off = _cds_first_offset(t, pos, len(ref))
    if off is None:
        return None
    cds = t.cds_sequence.upper()
    # phase-padded caches (leading N's on the translateable seq) shift every
    # CDS-sequence index by the pad length — same convention as the classify
    # path (reference leading-N offset, issue_118_chr7_44108973 family)
    off += _leading_n(cds)
    var_ref = ref.upper() if t.strand >= 0 else revcomp(ref.upper())
    var_alt = alt.upper() if t.strand >= 0 else revcomp(alt.upper())
    if off + len(var_ref) > len(cds) or (var_ref and cds[off : off + len(var_ref)] != var_ref):
        return None
    # pure insertions land after the 5'-flank (transcript sense): genomic
    # anchor pos is the 5' flank on +, the 3' flank on −
    ins_point = off if var_ref else (off + 1 if t.strand >= 0 else off)
    new_cds = cds[:ins_point] + var_alt + cds[ins_point + len(var_ref) :]
    prot_old = translate(cds)
    # failed BAM-edit RefSeq rows read the cached translation as the
    # reference protein (reference reference_aas_for_consequence feeding
    # protein HGVS; pinned by classify_coding_change_uses_cached_failed_
    # refseq_translation_for_chr12_nm_173600 → p.Arg3=)
    _cached_prot = failed_refseq_cached_protein(t, cds)
    if _cached_prot is not None:
        prot_old = _cached_prot
    prot_new = translate(new_cds)
    # stop searches (fsTer#/extTer#) read the UTR-extended translation: VEP
    # appends the 3'UTR to the (untrimmed) alternate CDS before translating
    # (reference translated_alt_protein_for_hgvs,
    # transcript_consequence.rs:3666-3673; Ensembl _get_alternate_cds) — a
    # new stop is often only reachable in the UTR
    prot_new_ext = translated_alt_protein_for_hgvs(t, new_cds)
    # HGVSp prefixes with the TRANSLATION stable id when the cache carries
    # one (reference format_hgvsp / translation_for_hgvsp)
    tid = t.translation_stable_id or t.transcript_id

    if len(var_ref) == len(var_alt):  # substitution / MNV
        ci0 = off // 3
        ci1 = (off + max(len(var_ref), 1) - 1) // 3  # last touched codon
        if ci0 >= len(prot_old):
            # substitution entirely within the trailing INCOMPLETE codon:
            # both peptides render the partial-codon placeholder X → '='
            # with the HGVS X→Ter display (reference ProteinHgvsData
            # ref/alt_peptide "X" → p.Ter262=, hgvs.rs
            # test_format_hgvsp_partial_codon_synonymous_uses_ter; E2E
            # issue_136_real_negative_strand_terminal_snv_emits_itcv_and_hgvsp)
            if len(cds) % 3 != 0 and ci0 == len(prot_old):
                return f"{tid}:p.Ter{ci0 + 1}="
            return None
        ci1 = min(ci1, len(prot_old) - 1, len(prot_new) - 1)
        # first/last codons in the touched span whose residues actually
        # changed — an MNV can leave flank codons synonymous (the
        # reference's clip_protein_alleles prefix/suffix trim)
        ci = next(
            (k for k in range(ci0, ci1 + 1) if prot_old[k] != prot_new[k]), None
        )
        if ci is None:  # fully synonymous across the span
            pep = "".join(_aa3(x) for x in prot_old[ci0 : ci1 + 1])
            # multi-residue synonymous uses the full peptide string with
            # the start position (hgvs.rs
            # test_format_hgvsp_synonymous_multi_residue): p.GluGlu25=
            return f"{tid}:p.{pep}{ci0 + 1}="
        cj = next(
            k for k in range(ci1, ci - 1, -1) if prot_old[k] != prot_new[k]
        )
        aa_old = prot_old[ci]
        aa_new = prot_new[ci] if ci < len(prot_new) else ""
        if not aa_new:
            return None
        if ci == 0 and aa_old == "M":
            # start lost: the protein-level effect is unknowable without
            # knowing the next initiation site (hgvs.rs
            # test_format_hgvsp_start_lost_reports_unknown_protein)
            return f"{tid}:p.Met1?"
        if ci != cj:
            # multiple residues changed: protein delins over the clipped
            # span (reference clip_protein_alleles -> kind 'delins';
            # format_hgvsp_notation truncates the alt peptide at its
            # first stop inclusive, and a ref span ending at the stop
            # carries the extension length, hgvs.rs:1948-1984)
            ref_pep = prot_old[ci : cj + 1]
            alt_pep = prot_new[ci : cj + 1]
            st = alt_pep.find("*")
            if st >= 0:
                alt_pep = alt_pep[: st + 1]
            alt3 = "".join(_aa3(x) for x in alt_pep)
            if ref_pep.endswith("*"):
                extra = _stop_loss_extra(_ref_peptide_len(t, prot_old), prot_new_ext)
                if extra is not None:
                    alt3 += f"extTer{extra}"
            return (
                f"{tid}:p.{_aa3(ref_pep[0])}{ci + 1}"
                f"_{_aa3(ref_pep[-1])}{cj + 1}delins{alt3}"
            )
        if aa_old == "*":
            # stop-lost substitution: extension notation, length counted
            # from the cached-peptide length (trailing stops stripped,
            # internal stops counted) — reference stop_loss_extra_aa,
            # hgvs.rs:1821-1846; '?' when no stop is reachable or the
            # extension is zero
            extra = _stop_loss_extra(_ref_peptide_len(t, prot_old), prot_new_ext)
            ext = extra if extra is not None else "?"
            return f"{tid}:p.Ter{ci + 1}{_aa3(aa_new)}extTer{ext}"
        return f"{tid}:p.{_aa3(aa_old)}{ci + 1}{_aa3(aa_new)}"

    # indel: diff the proteins
    i = 0
    lim = min(len(prot_old), len(prot_new))
    while i < lim and prot_old[i] == prot_new[i]:
        i += 1
    if i == lim and len(prot_old) == len(prot_new):
        ci = min(off // 3, len(prot_old) - 1)
        return f"{tid}:p.{_aa3(prot_old[ci])}{ci + 1}="

    if (len(var_alt) - len(var_ref)) % 3 == 0:  # inframe
        k = (len(var_ref) - len(var_alt)) // 3
        if k > 0 and prot_new == prot_old[:i] + prot_old[i + k :]:  # clean deletion
            if k == 1:
                return f"{tid}:p.{_aa3(prot_old[i])}{i + 1}del"
            return f"{tid}:p.{_aa3(prot_old[i])}{i + 1}_{_aa3(prot_old[i + k - 1])}{i + k}del"
        if k < 0 and prot_old == prot_new[:i] + prot_new[i - k :]:  # clean insertion
            ins_pep = prot_new[i : i - k]
            n_ins = len(ins_pep)
            # duplication: the inserted peptide equals the residues
            # immediately 5' of the insertion point (hgvs.rs
            # test_format_hgvsp_insertion_duplication_uses_dup_notation:
            # p.Ala3dup, range form for multi-residue dups)
            if i >= n_ins and prot_old[i - n_ins : i] == ins_pep:
                if n_ins == 1:
                    return f"{tid}:p.{_aa3(prot_old[i - 1])}{i}dup"
                return (
                    f"{tid}:p.{_aa3(prot_old[i - n_ins])}{i - n_ins + 1}"
                    f"_{_aa3(prot_old[i - 1])}{i}dup"
                )
            ins = "".join(_aa3(x) for x in ins_pep)
            if i == 0:
                return f"{tid}:p.{_aa3(prot_new[i - k - 1])}?ins{ins}"
            if i >= len(prot_old):
                # insertion after the LAST residue: no downstream flank to
                # name — the legacy walk has no notation for it (the output
                # dispatch renders these through the formatter pipeline)
                return None
            return f"{tid}:p.{_aa3(prot_old[i - 1])}{i}_{_aa3(prot_old[i])}{i + 1}ins{ins}"
        # delins: first..last changed old aa replaced
        j_old, j_new = len(prot_old) - 1, len(prot_new) - 1
        while j_old > i and j_new > i and prot_old[j_old] == prot_new[j_new]:
            j_old -= 1
            j_new -= 1
        ins = "".join(_aa3(x) for x in prot_new[i : j_new + 1])
        span = f"{_aa3(prot_old[i])}{i + 1}"
        if j_old > i:
            span += f"_{_aa3(prot_old[j_old])}{j_old + 1}"
        return f"{tid}:p.{span}delins{ins}"

    # frameshift — reference resolve_frameshift_hgvs (hgvs.rs:1598-1643):
    # walk the terminal-stop-appended reference translation against the
    # UTR-extended alternate translation (VEP's _get_alternate_cds appends
    # the 3'UTR, so residues can sit past the mutated CDS end) from the
    # first divergent residue
    if i >= len(prot_old) and i >= len(prot_new_ext):
        return None
    if i == 0 and prot_old[:1] == "M":
        return f"{tid}:p.Met1?"  # start lost (see substitution branch)
    ref_walk = prot_old if "*" in prot_old else prot_old + "*"
    j = i
    while j < len(prot_new_ext):
        if j >= len(ref_walk):
            return None  # reference peptide_char past ref end -> no HGVSp
        ref_aa, alt_aa = ref_walk[j], prot_new_ext[j]
        if ref_aa == "*" and alt_aa == "*":
            # both translations reach the stop with no divergence: the
            # frameshift regenerates the frame — synonymous (reference
            # test_resolve_frameshift_synonymous_when_both_reach_stop)
            return f"{tid}:p.Ter{j + 1}="
        if ref_aa != alt_aa:
            if ref_aa == "*":  # stop lost → extension
                stop = prot_new_ext.find("*", j)
                ext = stop - j if stop >= 0 else "?"
                return f"{tid}:p.Ter{j + 1}{_aa3(alt_aa)}extTer{ext}"
            if alt_aa == "*":
                # immediate stop at the first changed residue: plain Ter,
                # no fsTer suffix (test_format_hgvsp_frameshift_immediate_
                # stop)
                return f"{tid}:p.{_aa3(ref_aa)}{j + 1}Ter"
            stop = prot_new_ext.find("*", j)
            fs = f"Ter{stop - j + 1}" if stop >= 0 else "Ter?"
            return f"{tid}:p.{_aa3(ref_aa)}{j + 1}{_aa3(alt_aa)}fs{fs}"
        j += 1
    # alternate translation exhausted with no divergence: the frameshift
    # truncates the protein — deletion form at the first lost residue
    if j < len(ref_walk):
        return f"{tid}:p.{_aa3(ref_walk[j])}{j + 1}del"
    return None


def shifted_deletion_uses_protein_hgvs_reference(
    t: Transcript,
    alt_n: str,
    ref_n: str,
    shift: "HgvsShift | None",
    terms: list[str],
    shift_hgvs: bool = True,
) -> bool:
    """Whether USED_REF should report the 3'-shifted deleted bases: the
    protein-HGVS path consumed the shift — pure deletion, original terms
    coding, nonzero shift, and BOTH shifted display endpoints map into the
    CDS (reference shifted_deletion_uses_protein_hgvs_reference,
    transcript_consequence.rs:7459-7480).  ``alt_n``/``ref_n`` are the
    normalize_variant outputs ('' encodes the reference's '-')."""
    if not shift_hgvs or not original_terms_allow_protein_hgvs(terms):
        return False
    if alt_n not in ("", "-") or ref_n in ("", "-", None):
        return False
    if shift is None or shift.shift_length == 0:
        return False
    return (
        genomic_to_cds_index(t, shift.display_start()) is not None
        and genomic_to_cds_index(t, shift.display_end()) is not None
    )
