"""VEP phase-A tests: allele library semantics (vs reference allele.rs
behavior), lookup_variants join semantics per FIXTURES.md F5/F6, annotate_vep
phase-A output shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_bio_functions_spark.functions.alleles import (
    allele_matches,
    allele_matches_relaxed,
    trim_sequences_ensembl,
    vcf_to_vep_allele,
    vep_allele_string,
    vep_norm_end,
    vep_norm_start,
)
from datafusion_bio_functions_spark.operators.vep import annotate_vep, lookup_variants


# ---------------------------------------------------------------------------
# allele library (pure python)
# ---------------------------------------------------------------------------


def test_vcf_to_vep_allele():
    assert vcf_to_vep_allele("A", "T") == ("A", "T")  # SNV untouched
    assert vcf_to_vep_allele("AT", "A") == ("T", "-")  # deletion
    assert vcf_to_vep_allele("A", "AT") == ("-", "T")  # insertion
    # MNV: prefix trimmed, suffix NOT trimmed (same-length alleles)
    assert vcf_to_vep_allele("CAT", "CGT") == ("AT", "GT")
    assert vcf_to_vep_allele("ACT", "AGT") == ("CT", "GT")
    assert vcf_to_vep_allele("GCC", "GCCCA") == ("-", "CA")


def test_vep_norm_coordinates():
    # SNV at 100: unchanged
    assert (vep_norm_start(100, "A", "G"), vep_norm_end(100, "A", "G")) == (100, 100)
    # deletion CT>C at 100: start 101, end 101
    assert (vep_norm_start(100, "CT", "C"), vep_norm_end(100, "CT", "C")) == (101, 101)
    # insertion C>CT at 100: start 101 > end 100 (VEP convention)
    assert (vep_norm_start(100, "C", "CT"), vep_norm_end(100, "C", "CT")) == (101, 100)


def test_trim_sequences_ensembl():
    r, a, s, e, changed = trim_sequences_ensembl("TACGT", "TAGGT", 100)
    assert (r, a, s, e, changed) == ("C", "G", 102, 102, True)
    r, a, s, e, changed = trim_sequences_ensembl("AAA", "AAA", 50)
    assert (r, a) == ("-", "-") and changed


def test_allele_matches():
    assert allele_matches("A", "T", "A/T")
    assert allele_matches("A", "T", "A/G/T")  # multi-alt cache
    assert not allele_matches("A", "T", "A/G")
    assert allele_matches("A", "T|G", "A/G")  # pipe multi-alt VCF
    assert allele_matches("AT", "A", "T/-")  # deletion normalized
    assert allele_matches("GCC", "GCCCA", "-/CA")  # insertion normalized
    # bidirectional representation: cache stores the untrimmed form whose
    # right-first trim equals the VCF's left-first normalization
    assert allele_matches("A", "AA", "AG/AAG")


def test_allele_matches_relaxed():
    # same-length deletion events deleting *different* bases: strict fails,
    # relaxed matches on event class + length
    assert not allele_matches("CAT", "C", "GTC/G")
    assert allele_matches_relaxed("CAT", "C", "GTC/G")  # 2-base deletions both
    assert not allele_matches_relaxed("CAT", "C", "GA/G")  # different del length
    assert not allele_matches_relaxed("A", "T", "A/G")  # SNVs never relaxed


# ---------------------------------------------------------------------------
# lookup_variants (FIXTURES F5 × F6 pairings)
# ---------------------------------------------------------------------------

VCF_COLS = ["chrom", "start", "end", "ref", "alt"]
CACHE_COLS = ["chrom", "start", "end", "variation_name", "allele_string", "clin_sig", "source_release"]


@pytest.fixture(scope="module")
def vcf(spark):
    return spark.createDataFrame(
        [
            ("1", 100, 100, "A", "T"),  # exact SNV hit
            ("1", 200, 201, "AT", "A"),  # deletion → cache stores T/- at 201
            ("1", 300, 300, "G", "C"),  # position hit, allele mismatch
            ("1", 400, 400, "A", "G"),  # no cache row at all
            ("2", 100, 100, "A", "T"),  # other chrom, exact hit
        ],
        VCF_COLS,
    )


@pytest.fixture(scope="module")
def cache(spark):
    return spark.createDataFrame(
        [
            ("1", 100, 100, "rs1", "A/T", "benign", "r115"),
            ("1", 201, 201, "rs2", "T/-", "pathogenic", "r115"),
            ("1", 300, 300, "rs3", "G/A", None, "r115"),  # co-located, different alt
            ("2", 100, 100, "rs4", "A/T", None, "r115"),
        ],
        CACHE_COLS,
    )


def test_lookup_exact_matches(spark, vcf, cache):
    out = lookup_variants(vcf, cache)
    rows = {(r["chrom"], r["start"]): r for r in out.collect()}
    assert len(rows) == 5  # every VCF row present exactly once (left join)
    assert rows[("1", 100)]["variation_name"] == "rs1"
    assert rows[("1", 100)]["clin_sig"] == "benign"
    assert rows[("1", 200)]["variation_name"] == "rs2"  # normalized deletion hit
    assert rows[("1", 300)]["variation_name"] is None  # allele mismatch → NULL
    assert rows[("1", 400)]["variation_name"] is None
    assert rows[("2", 100)]["variation_name"] == "rs4"
    assert rows[("1", 100)]["matched"] and not rows[("1", 300)]["matched"]
    # source_* columns excluded by default projection
    assert "source_release" not in out.columns


def test_lookup_column_projection(spark, vcf, cache):
    out = lookup_variants(vcf, cache, columns=["clin_sig"])
    assert set(out.columns) == set(VCF_COLS + ["variation_name", "clin_sig", "matched"])


def test_lookup_extended_probes(spark):
    # shifted deletion: VCF at 500 (AAT>A), cache stored at neighboring coords
    vcf = spark.createDataFrame([("1", 500, 502, "AAT", "A")], VCF_COLS)
    cache = spark.createDataFrame(
        [("1", 502, 503, "rs9", "AT/-", None, "r")],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string, clin_sig string, source_release string",
    )
    exact = lookup_variants(vcf, cache, match_mode="relaxed")
    assert exact.collect()[0]["variation_name"] is None  # coords differ
    ext = lookup_variants(vcf, cache, match_mode="relaxed", extended_probes=True)
    assert ext.collect()[0]["variation_name"] == "rs9"


def test_lookup_contract_errors(spark, vcf):
    bad = spark.createDataFrame([("1", 1, 1)], ["chrom", "start", "end"])
    with pytest.raises(ValueError, match="required columns"):
        lookup_variants(vcf, bad)
    with pytest.raises(ValueError, match="match_mode"):
        lookup_variants(vcf, vcf.withColumn("variation_name", F.lit("x")).withColumn("allele_string", F.lit("A/T")), match_mode="fuzzy")


# ---------------------------------------------------------------------------
# annotate_vep phase A
# ---------------------------------------------------------------------------


def test_annotate_vep_no_context(spark, vcf, cache):
    out = annotate_vep(vcf, cache)
    assert {"CSQ", "most_severe_consequence", "existing_variation"} <= set(out.columns)
    rows = {(r["chrom"], r["start"]): r for r in out.collect()}
    assert rows[("1", 100)]["existing_variation"] == "rs1"
    assert rows[("1", 100)]["CSQ"].startswith("T|sequence_variant|rs1")
    assert rows[("1", 400)]["existing_variation"] == ""


def test_annotate_vep_with_transcripts(spark, vcf, cache):
    transcripts = spark.createDataFrame(
        [
            ("ENST1", "1", 90, 150, 1, "protein_coding", "ENSG1", "GENE1"),
            ("ENST2", "1", 390, 450, -1, "lncRNA", "ENSG2", "GENE2"),
            # upstream window for chr1:200 variant (+strand: start-5000..start)
            ("ENST3", "1", 2000, 2500, 1, "protein_coding", "ENSG3", "GENE3"),
        ],
        ["transcript_id", "chrom", "start", "end", "strand", "biotype", "gene_stable_id", "gene_symbol"],
    )
    out = annotate_vep(vcf, cache, transcripts=transcripts, engine="positional")
    rows = {(r["chrom"], r["start"]): r for r in out.collect()}
    assert rows[("1", 100)]["most_severe_consequence"] == "coding_transcript_variant"
    assert "GENE1" in rows[("1", 100)]["CSQ"]
    assert rows[("1", 400)]["most_severe_consequence"] == "non_coding_transcript_variant"
    assert rows[("1", 200)]["most_severe_consequence"] == "upstream_gene_variant"
    assert rows[("2", 100)]["most_severe_consequence"] == "intergenic_variant"
    assert out.count() == vcf.count()  # one row per variant preserved

    # same context through the codon engine (no CDS → coding catch-all for
    # protein_coding, exon-level term for non-coding biotypes)
    out2 = annotate_vep(vcf, cache, transcripts=transcripts, engine="codon")
    rows2 = {(r["chrom"], r["start"]): r for r in out2.collect()}
    assert rows2[("1", 100)]["most_severe_consequence"] == "coding_transcript_variant"
    assert rows2[("1", 400)]["most_severe_consequence"] == "non_coding_transcript_exon_variant"
    assert rows2[("1", 200)]["most_severe_consequence"] == "upstream_gene_variant"
    assert rows2[("2", 100)]["most_severe_consequence"] == "intergenic_variant"
    assert out2.count() == vcf.count()


def test_regulatory_features(spark):
    from datafusion_bio_functions_spark.operators.vep import regulatory_features

    vcf = spark.createDataFrame(
        [("1", 100, 100, "A", "T"), ("1", 500, 500, "G", "C"), ("2", 100, 100, "C", "G")],
        "chrom string, start long, end long, ref string, alt string",
    )
    reg = spark.createDataFrame(
        [("1", 50, 150, "ENSR1", "promoter"), ("1", 450, 550, "ENSR2", "TF_binding_site")],
        "chrom string, start long, end long, feature_id string, feature_type string",
    )
    mot = spark.createDataFrame(
        [("1", 90, 110, "MOTIF1")],
        "chrom string, start long, end long, feature_id string",
    )
    got = {
        (r.chrom, r.start, r.feature_id): r.feature_term
        for r in regulatory_features(vcf, reg, mot).collect()
    }
    assert got == {
        ("1", 100, "ENSR1"): "regulatory_region_variant",
        # TF_binding_site-typed REGULATORY rows keep regulatory_region_variant
        # (the type feeds only BIOTYPE; reference
        # test_regulatory_feature_biotype_tf_binding_site + round-10 grid)
        ("1", 500, "ENSR2"): "regulatory_region_variant",
        ("1", 100, "MOTIF1"): "TF_binding_site_variant",
    }
    import pytest as _pt

    with _pt.raises(ValueError):
        regulatory_features(vcf)


def test_regulatory_ablation_and_dedup(spark):
    # VEP feature_ablation: deletion fully covering the feature adds
    # regulatory_region_ablation (transcript_consequence.rs:1498-1504);
    # duplicate cache rows for a stable id emit a single entry
    from datafusion_bio_functions_spark.operators.vep import regulatory_features

    vcf = spark.createDataFrame(
        # 60bp deletion fully covering ENSR1 (80..120); SNV inside it
        [("1", 70, 130, "A" * 61, "A"), ("1", 100, 100, "A", "T")],
        "chrom string, start long, end long, ref string, alt string",
    )
    reg = spark.createDataFrame(
        [("1", 80, 120, "ENSR1", "promoter"), ("1", 80, 120, "ENSR1", "promoter")],
        "chrom string, start long, end long, feature_id string, feature_type string",
    )
    rows = regulatory_features(vcf, reg).collect()
    got = {(r.start, r.feature_term) for r in rows}
    assert got == {
        (70, "regulatory_region_variant"),
        (70, "regulatory_region_ablation"),
        (100, "regulatory_region_variant"),
    }
    # dedup: exactly one regulatory_region_variant row per variant
    assert len(rows) == 3


def test_annotate_vep_full_schema(spark):
    """full_schema=True emits the reference's complete 93-column annotation
    layout (annotate_provider.rs:145-720, REFSEQ provenance sextet last)
    after the VCF cols + CSQ + most_severe_consequence."""
    from datafusion_bio_functions_spark.operators.vep import (
        VEP_CACHE_ONLY_COLUMNS,
        VEP_FREQUENCY_COLUMNS,
        annotate_vep,
    )

    vcf = spark.createDataFrame(
        [("1", 1102, 1102, "A", "G"), ("1", 120, 120, "C", "T")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 1102, 1102, "rs1", "A/G", "benign", 0.25)],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string, clin_sig string, AF float",
    )
    tx = spark.createDataFrame(
        [("TXF", "1", 1000, 1600, 1, "protein_coding", "G1", "GENE1", 1100, 1500)],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string, "
        "cds_start long, cds_end long",
    )
    exons = spark.createDataFrame(
        [("TXF", 1000, 1250), ("TXF", 1350, 1600)],
        "transcript_id string, start long, end long",
    )
    out = annotate_vep(
        vcf, cache, transcripts=tx, exons=exons, full_schema=True,
        seqless_positions="geometric",
    )
    # 5 vcf + CSQ + most_severe + 93 annotation columns
    assert len(out.columns) == 5 + 2 + 93
    assert out.columns[-6:] == [
        "REFSEQ_MATCH", "SOURCE", "REFSEQ_OFFSET", "GIVEN_REF", "USED_REF",
        "BAM_EDIT",
    ]
    rows = {r["start"]: r for r in out.collect()}
    hit = rows[1102]
    assert hit["Feature"] == "TXF" and hit["STRAND"] == 1
    assert hit["EXON"] == "1/2" and hit["INTRON"] is None
    # span strings per the reference's Utf8 CSQ position columns
    assert (hit["cDNA_position"], hit["CDS_position"], hit["Protein_position"]) == ("103", "3", "1")
    assert hit["Existing_variation"] == "rs1" and hit["CLIN_SIG"] == "benign"
    # cache carries AF → frequency passthrough; the GLOBAL AF is excluded
    # from MAX_AF (reference AF_COLUMNS max_af_pop: None for globals)
    assert abs(hit["AF"] - 0.25) < 1e-6 and hit["MAX_AF"] is None
    assert hit["MAX_AF_POPS"] is None
    assert hit["gnomADe_AF"] is None  # absent cache col → typed NULL
    assert hit["VARIANT_CLASS"] == "SNV"
    far = rows[120]  # upstream of TXF by 880
    assert far["DISTANCE"] == 880 and far["most_severe_consequence"] == "upstream_gene_variant"
    # frequency layout is the reference's 27 + MAX_AF/MAX_AF_POPS
    assert len(VEP_FREQUENCY_COLUMNS) == 27 and len(VEP_CACHE_ONLY_COLUMNS) == 7
    with pytest.raises(ValueError):
        annotate_vep(vcf, cache, full_schema=True)


def test_structural_terms(spark):
    # SV arm of annotate_vep: kind/event vocabulary incl. aliases
    # (annotate_provider.rs:5338-5356), term table
    # (transcript_consequence.rs:1685-1770); unknown kinds/events skipped
    from datafusion_bio_functions_spark.operators.vep import structural_terms

    vcf = spark.createDataFrame(
        [("1", 100, 100, "A", "T"), ("2", 100, 100, "C", "G")],
        "chrom string, start long, end long, ref string, alt string",
    )
    sv = spark.createDataFrame(
        [
            ("1", 50, 150, "tx", "del"),
            ("1", 50, 150, "transcript", "dup"),
            ("1", 90, 110, "generic", "truncate"),
            ("1", 90, 110, "motif", "amplification"),
            ("1", 90, 110, "reg", "ablation"),
            ("1", 90, 110, "generic", "del"),      # no term for generic×del
            ("1", 90, 110, "banana", "del"),       # unknown kind skipped
            ("2", 500, 600, "tx", "del"),          # no overlap
        ],
        "chrom string, start long, end long, feature_kind string, event_kind string",
    )
    got = {(r.chrom, r.feature_term) for r in structural_terms(vcf, sv).collect()}
    assert got == {
        ("1", "transcript_ablation"),
        ("1", "transcript_amplification"),
        ("1", "feature_truncation"),
        ("1", "TFBS_amplification"),
        ("1", "regulatory_region_ablation"),
    }


def test_annotate_vep_context_feature_arms(spark):
    # regulatory/structural context participates in the codon-engine rollup
    # (reference annotate_provider regulatory/motif/structural arms +
    # the no-transcript-hit intergenic fallback, rs:1115-1123)
    from datafusion_bio_functions_spark.operators.vep import annotate_vep

    vcf = spark.createDataFrame(
        [
            ("1", 150, 150, "A", "T"),   # inside TX1 + regulatory feature
            ("1", 9000, 9000, "C", "G"), # regulatory feature only
            ("1", 30000, 30000, "G", "A"),  # nothing
        ],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [], "chrom string, start long, end long, variation_name string, allele_string string",
    )
    tx = spark.createDataFrame(
        [("TX1", "1", 100, 700, 1, "protein_coding", "G1", "GENE1", 200, 600)],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string, "
        "cds_start long, cds_end long",
    )
    reg = spark.createDataFrame(
        [("1", 100, 200, "ENSR1", "promoter"), ("1", 8900, 9100, "ENSR2", "promoter")],
        "chrom string, start long, end long, feature_id string, feature_type string",
    )
    sv = spark.createDataFrame(
        [("1", 100, 700, "tx", "del")],
        "chrom string, start long, end long, feature_kind string, event_kind string",
    )
    out = annotate_vep(vcf, cache, transcripts=tx, regulatory=reg, structural=sv)
    rows = {r.start: r for r in out.collect()}
    # transcript hit + regulatory + SV ablation: most severe = transcript_ablation
    assert rows[150].most_severe_consequence == "transcript_ablation"
    assert "regulatory_region_variant" in rows[150].CSQ
    assert "ENSR1" in rows[150].CSQ
    assert "5_prime_UTR_variant" in rows[150].CSQ  # the transcript entry
    assert "intergenic_variant" not in rows[150].CSQ
    # feature-only variant: regulatory entry + the intergenic fallback entry,
    # each a full-width 74-field record (VEP_CSQ_FIELDS)
    from datafusion_bio_functions_spark.operators.vep import VEP_CSQ_FIELDS

    assert rows[9000].most_severe_consequence == "regulatory_region_variant"
    entries = rows[9000].CSQ.split(",")
    assert len(entries) == 2
    reg_f = entries[0].split("|")
    assert len(reg_f) == len(VEP_CSQ_FIELDS) == 74
    assert reg_f[:3] == ["G", "regulatory_region_variant", "MODIFIER"]
    assert reg_f[5] == "RegulatoryFeature" and reg_f[6] == "ENSR2"
    assert reg_f[29] == "SNV"  # VARIANT_CLASS slot
    ig_f = entries[1].split("|")
    assert len(ig_f) == 74
    assert ig_f[:3] == ["G", "intergenic_variant", "MODIFIER"]
    # nothing at all: plain intergenic (full-width placeholder)
    assert rows[30000].most_severe_consequence == "intergenic_variant"
    assert len(rows[30000].CSQ.split(",")[0].split("|")) == 74


def test_annotate_vep_mirna_and_translations_tables(spark):
    # the mirna table arm emits mature_miRNA_variant entries
    # (annotate_provider.rs:3378-3440); the translation_core table supplies
    # the spliced CDS when transcripts lack it (rs:2961-3050) — upgrading
    # an SNV from coding_sequence_variant to the codon-accurate call
    from datafusion_bio_functions_spark.operators.vep import annotate_vep

    vcf = spark.createDataFrame(
        # 1103: GCT->ACT missense given sequence context; 5000: miRNA hit only
        [("1", 1103, 1103, "G", "A"), ("1", 5000, 5000, "A", "T")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [], "chrom string, start long, end long, variation_name string, allele_string string",
    )
    tx = spark.createDataFrame(
        [("T1", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1", 1100, 1108)],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string, "
        "cds_start long, cds_end long",
    )
    tl = spark.createDataFrame(
        [("T1", "ATGGCTTAA")], "transcript_id string, cds_sequence string"
    )
    mir = spark.createDataFrame(
        [("1", 4990, 5010, "MIR33")], "chrom string, start long, end long, mirna_id string"
    )
    # without translations: positional only
    base = {r.start: r for r in annotate_vep(vcf, cache, transcripts=tx).collect()}
    assert base[1103].most_severe_consequence == "coding_sequence_variant"
    out = {
        r.start: r
        for r in annotate_vep(
            vcf, cache, transcripts=tx, translations=tl, mirnas=mir
        ).collect()
    }
    assert out[1103].most_severe_consequence == "missense_variant"
    assert out[5000].most_severe_consequence == "mature_miRNA_variant"
    # the reference's append_mirna_terms pushes a single DEFAULT
    # TranscriptConsequence — no feature id, FeatureType::None — so the CSQ
    # entry renders with EMPTY Feature_type/Feature slots
    # (transcript_consequence.rs:1624-1640; round-11 CSQ grid replay)
    mir_entry = [e for e in out[5000].CSQ.split(",") if "mature_miRNA_variant" in e]
    assert len(mir_entry) == 1
    fields = mir_entry[0].split("|")
    assert fields[1] == "mature_miRNA_variant" and fields[5] == "" and fields[6] == ""
    assert "MIR33" not in out[5000].CSQ


def test_annotate_vep_sift_table(spark):
    # SIFT/PolyPhen from the sift context table: single-AA substitutions of
    # the best transcript keyed by (transcript, protein_position, alt_aa)
    # render as prediction(score) (annotate_provider.rs:2099-2176)
    from datafusion_bio_functions_spark.operators.vep import annotate_vep

    vcf = spark.createDataFrame(
        [("1", 1103, 1103, "G", "A")],  # GCT->ACT at codon 2: A/T missense
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [], "chrom string, start long, end long, variation_name string, allele_string string",
    )
    tx = spark.createDataFrame(
        [("T1", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1", 1100, 1108, "ATGGCTTAA")],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string, "
        "cds_start long, cds_end long, cds_sequence string",
    )
    sift = spark.createDataFrame(
        [("T1", 2, "T", "deleterious", 0.01, "probably damaging", 0.95),
         ("T1", 2, "V", "tolerated", 0.4, "benign", 0.1)],
        "transcript_id string, protein_position long, alt_aa string, "
        "sift_prediction string, sift_score double, "
        "polyphen_prediction string, polyphen_score double",
    )
    r = annotate_vep(vcf, cache, transcripts=tx, full_schema=True, sift=sift).collect()[0]
    assert r.Amino_acids == "A/T"
    assert r.SIFT == "deleterious(0.01)"
    assert r.PolyPhen == "probably_damaging(0.95)"


def test_annotate_vep_transcript_metadata_passthrough(spark):
    # MANE/HGNC/UniProt/FLAGS/CANONICAL come through when the transcripts
    # table carries them (reference transcript attribute columns +
    # flags_str_from_bools, annotate_provider.rs:5360-5375)
    from datafusion_bio_functions_spark.operators.vep import annotate_vep

    vcf = spark.createDataFrame(
        [("1", 150, 150, "A", "T")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [], "chrom string, start long, end long, variation_name string, allele_string string",
    )
    tx = spark.createDataFrame(
        [("T1", "1", 100, 700, 1, "protein_coding", "G1", "GENE1", 200, 600,
          "HGNC", "HGNC:5", "NM_1.1", True, True, False)],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string, "
        "cds_start long, cds_end long, symbol_source string, hgnc_id string, "
        "mane_select string, is_canonical boolean, cds_start_nf boolean, "
        "cds_end_nf boolean",
    )
    r = annotate_vep(vcf, cache, transcripts=tx, full_schema=True).collect()[0]
    assert r.SYMBOL_SOURCE == "HGNC"
    assert r.HGNC_ID == "HGNC:5"
    assert r.MANE_SELECT == "NM_1.1"
    assert r.CANONICAL == "YES"
    assert r.FLAGS == "cds_start_NF"
    assert r.MANE is None and r.TSL is None  # absent columns stay NULL


def test_annotate_vep_variant_level_cache_passthrough(spark):
    # SOMATIC/PHENO/PUBMED pass through from the variation cache when
    # present (annotate_provider.rs variant-level columns)
    from datafusion_bio_functions_spark.operators.vep import annotate_vep

    vcf = spark.createDataFrame(
        [("1", 100, 100, "A", "T")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 100, 100, "rs1", "A/T", "1", "1&0", "12345&67890")],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string, somatic string, pheno string, pubmed string",
    )
    tx = spark.createDataFrame(
        [("T1", "1", 50, 200, 1, "protein_coding", "G1", "GN", 80, 180)],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string, "
        "cds_start long, cds_end long",
    )
    r = annotate_vep(vcf, cache, transcripts=tx, full_schema=True).collect()[0]
    assert (r.SOMATIC, r.PHENO, r.PUBMED) == ("1", "1&0", "12345&67890")


def test_coordinate_normalizer_truth_table(spark):
    """Port of the reference coordinate.rs tests (:75-147): same system →
    weak, mismatch → strict, missing metadata defaults to 1-based."""
    from datafusion_bio_functions_spark.functions.coordinates import (
        CoordinateNormalizer,
        is_zero_based,
        with_coordinate_system,
    )

    assert CoordinateNormalizer(True, True).filter_op() == "weak"
    assert CoordinateNormalizer(False, False).filter_op() == "weak"
    assert CoordinateNormalizer(True, False).filter_op() == "strict"
    assert CoordinateNormalizer(False, True).filter_op() == "strict"
    assert CoordinateNormalizer(True, True).same_system()
    assert not CoordinateNormalizer(True, False).same_system()

    df = spark.createDataFrame([("1", 5)], "chrom string, start long")
    assert is_zero_based(df) is False  # missing metadata → 1-based
    stamped = with_coordinate_system(df, True)
    assert is_zero_based(stamped) is True
    # metadata survives a projection that keeps the column
    assert is_zero_based(stamped.select("chrom", "start")) is True
    norm = CoordinateNormalizer.from_frames(stamped, df)
    assert norm.input_zero_based and not norm.cache_zero_based
    assert norm.filter_op() == "strict"


def test_lookup_variants_filter_op_from_metadata(spark):
    """lookup_variants derives the extended-probe overlap semantics from a
    coordinate-system metadata mismatch, like the reference's VEP crate."""
    from datafusion_bio_functions_spark.functions.coordinates import (
        with_coordinate_system,
    )
    from datafusion_bio_functions_spark.operators.vep import lookup_variants

    vcf = spark.createDataFrame(
        [("1", 100, 100, "A", "T")], "chrom string, start long, end long, ref string, alt string"
    )
    # cache entry adjacent to the padded probe: included weakly (same
    # system), excluded strictly (mismatched systems shrink the probe)
    cache = spark.createDataFrame(
        [("1", 101, 101, "rs1", "A/T")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    weak = lookup_variants(vcf, cache, extended_probes=True).collect()[0]
    assert weak["matched"] is True
    strict = lookup_variants(
        vcf, with_coordinate_system(cache, True), extended_probes=True
    ).collect()[0]
    assert strict["matched"] is False
    # explicit parameter trumps metadata
    forced = lookup_variants(
        vcf, with_coordinate_system(cache, True), extended_probes=True, filter_op="weak"
    ).collect()[0]
    assert forced["matched"] is True


def test_schema_contract_type_validation(spark):
    """Port of schema_contract.rs tests (:92-189): wrong-typed contract
    columns and unknown requested columns raise errors naming the column,
    instead of silently casting every lookup into a non-match."""
    from datafusion_bio_functions_spark.operators.vep import lookup_variants

    vcf = spark.createDataFrame(
        [("1", 100, 100, "A", "T")],
        "chrom string, start long, end long, ref string, alt string",
    )
    good = spark.createDataFrame(
        [("1", 100, 100, "rs1", "A/T")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    assert lookup_variants(vcf, good).count() == 1  # valid schema passes
    # wrong type: start as string
    bad = spark.createDataFrame(
        [("1", "100", 100, "rs1", "A/T")],
        "chrom string, start string, end long, variation_name string, allele_string string",
    )
    with pytest.raises(ValueError, match="start"):
        lookup_variants(vcf, bad)
    # missing column names the column
    missing = good.drop("end")
    with pytest.raises(ValueError, match="end"):
        lookup_variants(vcf, missing)
    # unknown requested projection column names the column
    with pytest.raises(ValueError, match="nonexistent"):
        lookup_variants(vcf, good, columns=["nonexistent"])


def test_csq_escape_reference_cases(spark):
    """annotate_provider.rs test_csq_escape_*: CSQ delimiters inside field
    values rewrite (','/'|' → '&', ';' → '%3B'), a bare '-' empties, and
    ordinary values (including internal dashes) pass through — under
    either ``spark.sql.parser.escapedStringLiterals`` setting."""
    from datafusion_bio_functions_spark.operators.vep import _sql_esc
    from pyspark.sql import functions as F

    rows = [("A0A0J9YXY3.52,P0DPF7.28",), ("a|b",), ("a;b",), ("-",),
            ("ENST00000684052",), ("c.11-3_11-2del",), (None,),
            ("gene symbol",), ("a\tb c",)]
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key)
    for escaped_literals in ("false", "true"):
        spark.conf.set(key, escaped_literals)
        try:
            out = [
                r["e"]
                for r in spark.createDataFrame(rows, ["v"])
                .select(F.expr(_sql_esc("v")).alias("e"))
                .collect()
            ]
        finally:
            spark.conf.set(key, prev)
        assert out == [
            "A0A0J9YXY3.52&P0DPF7.28", "a&b", "a%3Bb", "",
            "ENST00000684052", "c.11-3_11-2del", "",
            "gene_symbol", "a_b_c",
        ], escaped_literals


def test_annotate_vep_domains_table(spark):
    """DOMAINS from the domains context table (reference lookup_domains,
    annotate_provider.rs:5990-6056 + test_lookup_domains_*): protein-span
    overlaps render 'analysis:hseqname' (spaces/;/= → '_') joined by '&';
    non-overlapping features are excluded; insertions swap the protein
    bounds so boundary-touch features drop."""
    from datafusion_bio_functions_spark.operators.vep import annotate_vep

    vcf = spark.createDataFrame(
        [("1", 1103, 1103, "G", "A")],  # codon 2 missense -> protein pos 2
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [], "chrom string, start long, end long, variation_name string, allele_string string",
    )
    tx = spark.createDataFrame(
        [("T1", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1", 1100, 1108, "ATGGCTTAA")],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string, "
        "cds_start long, cds_end long, cds_sequence string",
    )
    domains = spark.createDataFrame(
        [("T1", 1, 2, "Pfam", "PF00069"),
         ("T1", 2, 3, "Gene3D db", "1.10.510.10"),
         ("T1", 3, 3, "PROSITE profiles", "PS50011"),  # no overlap with pos 2
         # analysis AND hseqname both NULL: reference skips it entirely
         # (parts.is_empty → continue) — must NOT inject '&&' or stray '&'
         ("T1", 1, 9, None, None),
         ("T2", 1, 9, "Pfam", "PF99999")],
        "transcript_id string, start long, end long, analysis string, hseqname string",
    )
    r = annotate_vep(
        vcf, cache, transcripts=tx, full_schema=True, domains=domains
    ).collect()[0]
    assert r.DOMAINS == "Pfam:PF00069&Gene3D_db:1.10.510.10"
    # no domains table → NULL stub unchanged
    r0 = annotate_vep(vcf, cache, transcripts=tx, full_schema=True).collect()[0]
    assert r0.DOMAINS is None


def test_lookup_extended_probes_matches_point_variant_inside_mnv(spark):
    """variant_lookup_exec.rs compare_existing_variant_matches_point_
    existing_variant_within_mnv + collect_overlapping_candidates_keeps_
    point_existing_variants_inside_mnv_window: with extended_probes the
    overlap path matches through Ensembl's get_matched_variant_alleles, so
    a point G/T inside a GATT>TATT window matches (exact mode still
    requires exact coordinates) and a repeat-shifted deletion matches its
    anchored twin."""
    from datafusion_bio_functions_spark.operators.vep import lookup_variants

    vcf = spark.createDataFrame(
        [("1", 59546535, 59546538, "GATT", "TATT")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 59546535, 59546535, "rsPOINT", "G/T")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    assert lookup_variants(vcf, cache).collect()[0].variation_name is None
    assert (lookup_variants(vcf, cache, extended_probes=True)
            .collect()[0].variation_name == "rsPOINT")
    vcf2 = spark.createDataFrame(
        [("1", 100, 102, "AAA", "A")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache2 = spark.createDataFrame(
        [("1", 101, 102, "rsDEL", "AA/-")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    assert (lookup_variants(vcf2, cache2, extended_probes=True)
            .collect()[0].variation_name == "rsDEL")


def test_lookup_unknown_alleles_match_on_exact_coords_only(spark):
    """variant_lookup_exec.rs compare_existing_variant_allows_unknown_
    alleles_on_exact_shifted_coords_only: an existing record whose allele
    string has no '/' (HGMD/COSMIC ids) attaches only at the exact
    VEP-normalized coordinates, in both exact and probe modes."""
    from datafusion_bio_functions_spark.operators.vep import lookup_variants

    vcf = spark.createDataFrame(
        [("1", 100, 103, "ACGT", "A")],  # VEP-normalized del at 101-103
        "chrom string, start long, end long, ref string, alt string",
    )
    hit = spark.createDataFrame(
        [("1", 101, 103, "rsHGMD", "HGMD_MUTATION")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    miss = spark.createDataFrame(
        [("1", 100, 103, "rsHGMD", "HGMD_MUTATION")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    assert lookup_variants(vcf, hit).collect()[0].variation_name == "rsHGMD"
    assert lookup_variants(vcf, miss).collect()[0].variation_name is None
    assert (lookup_variants(vcf, hit, extended_probes=True)
            .collect()[0].variation_name == "rsHGMD")
    assert (lookup_variants(vcf, miss, extended_probes=True)
            .collect()[0].variation_name is None)


def test_propagate_gene_hgnc_reference_rules(spark):
    """annotate_provider.rs test_buffer_local_hgnc_propagation_* replays:
    native HGNC donates to same-symbol rows; cache-promoted effective ids
    never seed propagation; same-gene donors refill symbol/source/HGNC."""
    from datafusion_bio_functions_spark.operators.vep import propagate_gene_hgnc

    schema = ("transcript_id string, gene_stable_id string, gene_symbol string, "
              "gene_symbol_source string, hgnc_id_native string, hgnc_id string")
    rows = [
        # native donor (Ensembl) + RefSeq twin sharing the symbol
        ("ENST00000919191", "ENSG00000182158", "NBAS", "HGNC", "HGNC:15625", None),
        ("XR_007076390.1", "GENE:NBAS", "NBAS", "EntrezGene", None, None),
        # cache-promoted effective id must NOT propagate to the twin
        ("ENST00000426186", "ENSG00000225475", "ANAPC1P1", "HGNC", None, "HGNC:44150"),
        ("NR_037931.2", "GENE:ANAPC1P1", "ANAPC1P1", "EntrezGene", None, None),
        # same-gene refill: symbol/source/native flow within a stable id
        ("ENST0A", "ENSG0A", "GENEA", "HGNC", "HGNC:1", None),
        ("ENST0B", "ENSG0A", None, None, None, None),
    ]
    out = {r["transcript_id"]: r
           for r in propagate_gene_hgnc(spark.createDataFrame(rows, schema)).collect()}
    assert out["XR_007076390.1"]["hgnc_id"] == "HGNC:15625"  # symbol donor
    assert out["ENST00000919191"]["hgnc_id"] == "HGNC:15625"  # native kept
    assert out["ENST00000426186"]["hgnc_id"] == "HGNC:44150"  # effective kept
    assert out["NR_037931.2"]["hgnc_id"] is None  # promoted id never seeds
    assert out["ENST0B"]["gene_symbol"] == "GENEA"  # same-gene refill
    assert out["ENST0B"]["gene_symbol_source"] == "HGNC"
    assert out["ENST0B"]["hgnc_id"] == "HGNC:1"


def test_csq_string_is_full_width_74_field_layout(spark):
    """The codon engine's CSQ entries follow the reference's default
    74-field layout exactly (CSQ_FIELD_NAMES, golden_benchmark.rs:464-541;
    writer annotate_provider.rs:4460-4475): per-transcript fields in
    slots 1-17/19-29/31-41, per-variant Existing_variation (18),
    VARIANT_CLASS (30) and the 33-field Batch-3 suffix (42-74) from the
    colocated cache aggregates; unsourced fields render empty."""
    from datafusion_bio_functions_spark.operators.vep import (
        VEP_CSQ_FIELDS,
        annotate_vep,
    )

    vcf = spark.createDataFrame(
        [("1", 1103, 1103, "G", "A")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 1103, 1103, "rs77", "G/A", "pathogenic", 0.25, 0.125, 0.0625),
         ("1", 1103, 1103, "rs12", "G/A", "benign", 0.25, 0.5, 0.03125)],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string, clin_sig string, AF float, gnomADe float, "
        "AFR float",
    )
    tx = spark.createDataFrame(
        [("T1", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1",
          1100, 1108, "ATGGCTTAA", True)],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string, "
        "cds_start long, cds_end long, cds_sequence string, is_canonical boolean",
    )
    r = annotate_vep(vcf, cache, transcripts=tx).collect()[0]
    f = dict(zip(VEP_CSQ_FIELDS, r.CSQ.split("|")))
    assert len(r.CSQ.split("|")) == 74
    assert f["Allele"] == "A"
    assert f["Consequence"] == "missense_variant"
    assert f["IMPACT"] == "MODERATE"
    assert f["SYMBOL"] == "GENE1" and f["Gene"] == "G1"
    assert f["Feature_type"] == "Transcript" and f["Feature"] == "T1"
    assert f["BIOTYPE"] == "protein_coding"
    assert f["Protein_position"] == "2" and f["Amino_acids"] == "A/T"
    # colocated aggregates: both rs ids '&'-joined, both clin_sigs
    assert f["Existing_variation"] == "rs12&rs77"
    assert f["CLIN_SIG"] == "benign&pathogenic"
    assert f["STRAND"] == "1"
    assert f["CANONICAL"] == "YES"
    assert f["VARIANT_CLASS"] == "SNV"
    assert f["AF"] == "0.2500"       # global AF renders %.4f (format_af_4f)
    assert f["gnomADe_AF"] == "0.5"  # gnomAD GLOBAL renders raw
    # MAX_AF over SUB-populations only (globals excluded), short pop names
    assert f["MAX_AF"] == "0.0625" and f["MAX_AF_POPS"] == "AFR"
    assert f["AFR_AF"] == "0.0625"
    # unsourced fields are EMPTY, not dropped: MOTIF block + SOURCE + tail
    for k in ("MOTIF_NAME", "SOURCE", "SWISSPROT", "SOMATIC", "PHENO", "PUBMED"):
        assert f[k] == ""


def test_csq_mode_refseq_and_merged_splices(spark):
    """csq_mode layout splices (reference csq_field_names_for_mode,
    golden_benchmark.rs:652-714 + the per-mode writer arms): refseq
    replaces the SOURCE slot with the five RefSeq provenance fields (78
    fields), merged keeps SOURCE among them (79); the values come from the
    per-transcript engine state."""
    from datafusion_bio_functions_spark.operators.vep import (
        annotate_vep,
        vep_csq_fields,
    )

    assert len(vep_csq_fields("ensembl")) == 74
    assert len(vep_csq_fields("refseq")) == 78
    assert len(vep_csq_fields("merged")) == 79
    assert "SOURCE" not in vep_csq_fields("refseq")
    assert vep_csq_fields("merged").index("SOURCE") == 29
    with pytest.raises(ValueError, match="csq_mode"):
        vep_csq_fields("everything")

    vcf = spark.createDataFrame(
        [("1", 1103, 1103, "G", "A")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [], "chrom string, start long, end long, variation_name string, allele_string string",
    )
    tx = spark.createDataFrame(
        [("NM_1.1", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1",
          1100, 1108, "ATGGCTTAA", "RefSeq", "ok", "Perfect match")],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string, "
        "cds_start long, cds_end long, cds_sequence string, source string, "
        "bam_edit_status string, refseq_match string",
    )
    for mode, width in (("refseq", 78), ("merged", 79)):
        r = annotate_vep(vcf, cache, transcripts=tx, csq_mode=mode).collect()[0]
        f = dict(zip(vep_csq_fields(mode), r.CSQ.split("|")))
        assert len(r.CSQ.split("|")) == width
        assert f["REFSEQ_MATCH"] == "Perfect match"
        assert f["BAM_EDIT"] == "OK"
        assert f["GIVEN_REF"] == "G" and f["USED_REF"] == "G"
        assert f["VARIANT_CLASS"] == "SNV"
        if mode == "merged":
            assert f["SOURCE"] == "RefSeq"
    # positional engine rejects non-default csq_mode
    with pytest.raises(ValueError, match="codon engine"):
        annotate_vep(vcf, cache, csq_mode="refseq")


def test_csq_field_indices_replay_reference_battery(spark):
    """Replay of the reference's own field-index assertions
    (golden_benchmark.rs csq_field_names_has_74_entries +
    csq_field_names_for_refseq_and_merged_modes_insert_expected_fields,
    rs:1296-1333): exact positions of the mode-splice block."""
    from datafusion_bio_functions_spark.operators.vep import vep_csq_fields

    base = vep_csq_fields("ensembl")
    assert len(base) == 74
    assert base[0] == "Allele" and base[28] == "SOURCE"
    r = vep_csq_fields("refseq")
    assert len(r) == 78
    assert r[28:34] == [
        "REFSEQ_MATCH", "REFSEQ_OFFSET", "GIVEN_REF", "USED_REF",
        "BAM_EDIT", "VARIANT_CLASS",
    ]
    m = vep_csq_fields("merged")
    assert len(m) == 79
    assert m[28:35] == [
        "REFSEQ_MATCH", "SOURCE", "REFSEQ_OFFSET", "GIVEN_REF", "USED_REF",
        "BAM_EDIT", "VARIANT_CLASS",
    ]


def test_csq_everything_field_names_replay_reference_battery():
    """Replay of the reference's --everything field-order assertions
    (golden_benchmark.rs csq_field_names_everything_has_80_entries
    :1287-1313 + the everything refseq/merged splice checks :1335-1352):
    80 fields, VARIANT_CLASS follows FLAGS, generic MANE at 25, the
    APPRIS/SIFT/PolyPhen/DOMAINS/miRNA/HGVS_OFFSET block, _AF-suffixed
    gnomAD sub-pops, the trailing MOTIF block, and the provenance splice
    before GENE_PHENO (85 / 86 fields)."""
    from datafusion_bio_functions_spark.operators.vep import vep_csq_fields

    e = vep_csq_fields(everything=True)
    assert len(e) == 80
    assert e[0] == "Allele" and e[1] == "Consequence"
    assert e[6] == "Feature" and e[17] == "Existing_variation"
    assert e[19] == "STRAND" and e[20] == "FLAGS"
    assert e[21] == "VARIANT_CLASS"
    assert e[24] == "CANONICAL" and e[25] == "MANE"
    assert e[29] == "APPRIS" and e[35] == "UNIPROT_ISOFORM"
    assert e[37] == "SIFT" and e[38] == "PolyPhen"
    assert e[39] == "DOMAINS" and e[40] == "miRNA"
    assert e[41] == "HGVS_OFFSET" and e[42] == "AF"
    assert e[49] == "gnomADe_AFR_AF" and e[58] == "gnomADg_AF"
    assert e[69] == "MAX_AF" and e[74] == "PUBMED"
    assert e[75] == "MOTIF_NAME" and e[79] == "TRANSCRIPTION_FACTORS"
    assert "SOURCE" not in e

    er = vep_csq_fields("refseq", everything=True)
    assert len(er) == 85
    assert er[36:42] == [
        "REFSEQ_MATCH", "REFSEQ_OFFSET", "GIVEN_REF", "USED_REF",
        "BAM_EDIT", "GENE_PHENO",
    ]
    em = vep_csq_fields("merged", everything=True)
    assert len(em) == 86
    assert em[36:43] == [
        "REFSEQ_MATCH", "SOURCE", "REFSEQ_OFFSET", "GIVEN_REF", "USED_REF",
        "BAM_EDIT", "GENE_PHENO",
    ]


def test_csq_everything_entry_layout_end_to_end(spark):
    """csq_everything=True end-to-end (reference writer arm,
    annotate_provider.rs:4318-4455): 80-field entries with VARIANT_CLASS
    after FLAGS, generic MANE derived from MANE_SELECT, abbreviated
    APPRIS, per-entry SIFT/PolyPhen/DOMAINS, UN-suppressed gnomAD sub-pop
    slots (emit_in_csq || everything, rs:1837), empty HGVS_OFFSET (no
    FASTA shift) and the empty trailing MOTIF block."""
    from datafusion_bio_functions_spark.operators.vep import (
        annotate_vep,
        vep_csq_fields,
    )

    vcf = spark.createDataFrame(
        [("1", 1103, 1103, "G", "A")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 1103, 1103, "rs77", "G/A", "pathogenic", 0.25, 0.5, 0.0625)],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string, clin_sig string, AF float, gnomADe float, "
        "gnomADe_AFR float",
    )
    tx = spark.createDataFrame(
        [("T1", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1",
          1100, 1108, "ATGGCTTAA", True, "NM_000001.1", "principal1")],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string, "
        "cds_start long, cds_end long, cds_sequence string, "
        "is_canonical boolean, mane_select string, appris string",
    )
    sift = spark.createDataFrame(
        [("T1", 2, "T", "deleterious", 0.05, "probably damaging", 0.92)],
        "transcript_id string, protein_position long, alt_aa string, "
        "sift_prediction string, sift_score double, "
        "polyphen_prediction string, polyphen_score double",
    )
    domains = spark.createDataFrame(
        [("T1", 1, 3, "Pfam", "PF00001")],
        "transcript_id string, start long, end long, analysis string, "
        "hseqname string",
    )
    r = annotate_vep(
        vcf, cache, transcripts=tx, sift=sift, domains=domains,
        csq_everything=True,
    ).collect()[0]
    parts = r.CSQ.split("|")
    assert len(parts) == 80
    f = dict(zip(vep_csq_fields(everything=True), parts))
    assert f["Allele"] == "A"
    assert f["Consequence"] == "missense_variant"
    assert f["FLAGS"] == "" and f["VARIANT_CLASS"] == "SNV"
    assert f["CANONICAL"] == "YES"
    # generic MANE derives from the MANE_SELECT slot (OutputFactory.pm)
    assert f["MANE"] == "MANE_Select" and f["MANE_SELECT"] == "NM_000001.1"
    assert f["APPRIS"] == "P1"       # principal1 abbreviates (format_appris)
    assert f["SIFT"] == "deleterious(0.05)"
    assert f["PolyPhen"] == "probably_damaging(0.92)"
    assert f["DOMAINS"] == "Pfam:PF00001"
    assert f["miRNA"] == "" and f["HGVS_OFFSET"] == ""
    assert f["Existing_variation"] == "rs77"
    assert f["AF"] == "0.2500" and f["gnomADe_AF"] == "0.5"
    # --everything UN-suppresses the gnomAD sub-pop slots
    assert f["gnomADe_AFR_AF"] == "0.0625"
    assert f["MAX_AF"] == "0.0625" and f["MAX_AF_POPS"] == "gnomADe_AFR"
    assert f["CLIN_SIG"] == "pathogenic"
    # trailing MOTIF block: present and empty
    for k in ("MOTIF_NAME", "MOTIF_POS", "HIGH_INF_POS",
              "MOTIF_SCORE_CHANGE", "TRANSCRIPTION_FACTORS"):
        assert f[k] == ""

    # everything + refseq provenance splice (85 fields)
    tx_r = tx.withColumn("source", F.lit("RefSeq")).withColumn(
        "bam_edit_status", F.lit("ok")
    ).withColumn("refseq_match", F.lit("Perfect match"))
    r2 = annotate_vep(
        vcf, cache, transcripts=tx_r, csq_mode="refseq", csq_everything=True
    ).collect()[0]
    parts2 = r2.CSQ.split("|")
    assert len(parts2) == 85
    f2 = dict(zip(vep_csq_fields("refseq", everything=True), parts2))
    assert f2["REFSEQ_MATCH"] == "Perfect match" and f2["BAM_EDIT"] == "OK"
    assert f2["GIVEN_REF"] == "G" and f2["USED_REF"] == "G"


def test_csq_allele_slot_is_vep_minimized(spark):
    """The CSQ Allele slot carries the VEP-minimized alt (reference writer
    renders vcf_to_vep_allele's alt, annotate_provider.rs:3977/4076):
    anchored insertions minimize to the inserted bases, deletions to '-';
    raw VCF alts never appear for indels."""
    from datafusion_bio_functions_spark.operators.vep import (
        VEP_CSQ_FIELDS,
        annotate_vep,
    )

    vcf = spark.createDataFrame(
        [("1", 1103, 1103, "G", "GT"),      # insertion → 'T'
         ("1", 1105, 1106, "GA", "G")],     # deletion  → '-'
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [], "chrom string, start long, end long, variation_name string, "
        "allele_string string",
    )
    tx = spark.createDataFrame(
        [("T1", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1")],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string",
    )
    rows = {r.alt: r for r in annotate_vep(vcf, cache, transcripts=tx).collect()}
    ins = dict(zip(VEP_CSQ_FIELDS, rows["GT"].CSQ.split("|")))
    dele = dict(zip(VEP_CSQ_FIELDS, rows["G"].CSQ.split("|")))
    assert ins["Allele"] == "T" and ins["VARIANT_CLASS"] == "insertion"
    assert dele["Allele"] == "-" and dele["VARIANT_CLASS"] == "deletion"


def test_csq_af_null_guard_and_native_float_rendering(spark):
    """Pinned ADVICE regressions: (1) a matched variant with a NULL global
    AF renders an EMPTY CSQ AF slot — format_string('%.4f', NULL) returns
    the literal 'null' (Java Formatter) unless guarded; (2) FloatType
    cache frequencies render their native value ('0.1'), not the
    float→double widening noise ('0.10000000149011612'), in sub-pop slots
    and MAX_AF alike (reference emits the raw cache value)."""
    from datafusion_bio_functions_spark.operators.vep import (
        VEP_CSQ_FIELDS,
        annotate_vep,
    )

    vcf = spark.createDataFrame(
        [("1", 1103, 1103, "G", "A")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 1103, 1103, "rs77", "G/A", None, 0.1)],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string, AF float, AFR float",
    )
    tx = spark.createDataFrame(
        [("T1", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1")],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string",
    )
    r = annotate_vep(vcf, cache, transcripts=tx).collect()[0]
    f = dict(zip(VEP_CSQ_FIELDS, r.CSQ.split("|")))
    assert f["AF"] == ""             # NULL guarded: no literal 'null'
    assert "null" not in r.CSQ
    assert f["AFR_AF"] == "0.1"      # native float rendering, no noise
    assert f["MAX_AF"] == "0.1" and f["MAX_AF_POPS"] == "AFR"


def test_annotate_to_vcf_header_matches_csq_mode(spark, tmp_path):
    """The sink's ##INFO CSQ Format list follows the entry layout actually
    written (ADVICE r7): vep_csq_fields(csq_mode, csq_everything) for the
    codon engine, the short 5-field layout for the positional engine."""
    from datafusion_bio_functions_spark.operators.vep import vep_csq_fields
    from datafusion_bio_functions_spark.sources.readers import annotate_to_vcf

    vcf = spark.createDataFrame(
        [("1", 1103, 1103, "G", "A")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 1103, 1103, "rs77", "G/A")],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string",
    )
    tx = spark.createDataFrame(
        [("T1", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1",
          "RefSeq", "ok", "Perfect match")],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string, "
        "source string, bam_edit_status string, refseq_match string",
    )

    def header(path):
        return (path / "00_header.vcf").read_text()

    p1 = tmp_path / "refseq"
    annotate_to_vcf(vcf, cache, str(p1), transcripts=tx, csq_mode="refseq")
    assert "|".join(vep_csq_fields("refseq")) in header(p1)

    p2 = tmp_path / "everything"
    annotate_to_vcf(vcf, cache, str(p2), transcripts=tx, csq_everything=True)
    assert "|".join(vep_csq_fields(everything=True)) in header(p2)

    p3 = tmp_path / "positional"
    annotate_to_vcf(vcf, cache, str(p3))
    assert "Allele|Consequence|Existing_variation|SYMBOL|Gene" in header(p3)
    assert "VARIANT_CLASS" not in header(p3)


def test_csq_af_pair_string_parsing_and_interpolation(spark):
    """Ensembl pair-encoded AF cache columns (reference frequency_fields +
    extract_af_for_allele, annotate_provider.rs:1717-1830, 2190-2210):
    'allele:freq,allele:freq' strings parse per entry, the MATCHED
    (VEP-minimized) allele's frequency is chosen, and the biallelic global
    AF interpolates the missing allele as 1−total.  A pair-encoded cache
    and a numeric per-allele cache must produce IDENTICAL CSQ and typed AF
    values."""
    from datafusion_bio_functions_spark.operators.vep import (
        VEP_CSQ_FIELDS,
        annotate_vep,
        vep_csq_fields,
    )

    vcf = spark.createDataFrame(
        [("1", 1103, 1103, "G", "A"),
         ("1", 1105, 1105, "T", "C")],
        "chrom string, start long, end long, ref string, alt string",
    )
    tx = spark.createDataFrame(
        [("T1", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1")],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string",
    )
    # pair-encoded layout: AFR carries both alleles, AF only the REF allele
    # (the matched ALT 'A' is missing → biallelic interpolation: 1−0.9=0.1);
    # the second variant's AF carries the matched allele directly
    pair_cache = spark.createDataFrame(
        [("1", 1103, 1103, "rs77", "G/A", "G:0.9", "A:0.0625,G:0.9375"),
         ("1", 1105, 1105, "rs88", "T/C", "C:0.25,T:0.75", "C:0.125")],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string, AF string, AFR string",
    )
    num_cache = spark.createDataFrame(
        [("1", 1103, 1103, "rs77", "G/A", 0.1, 0.0625),
         ("1", 1105, 1105, "rs88", "T/C", 0.25, 0.125)],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string, AF double, AFR double",
    )
    for cache in (pair_cache, num_cache):
        rows = {
            r.start: r
            for r in annotate_vep(vcf, cache, transcripts=tx).collect()
        }
        f1 = dict(zip(VEP_CSQ_FIELDS, rows[1103].CSQ.split("|")))
        assert f1["AF"] == "0.1000"      # interpolated (pair) == direct (num)
        assert f1["AFR_AF"] == "0.0625"  # matched allele A picked from pairs
        assert f1["MAX_AF"] == "0.0625" and f1["MAX_AF_POPS"] == "AFR"
        f2 = dict(zip(VEP_CSQ_FIELDS, rows[1105].CSQ.split("|")))
        assert f2["AF"] == "0.2500" and f2["AFR_AF"] == "0.125"
        # typed layout reads the same extracted values
        trows = {
            r.start: r
            for r in annotate_vep(
                vcf, cache, transcripts=tx, full_schema=True
            ).collect()
        }
        assert abs(trows[1103]["AF"] - 0.1) < 1e-6
        assert abs(trows[1103]["AFR_AF"] - 0.0625) < 1e-6
        assert abs(trows[1105]["MAX_AF"] - 0.125) < 1e-6

    # a pair string whose alleles don't include the matched alt (and a
    # non-biallelic allele_string) yields an EMPTY slot, like the reference
    miss_cache = spark.createDataFrame(
        [("1", 1103, 1103, "rs99", "G/A/T", "G:0.5", "G:0.5")],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string, AF string, AFR string",
    )
    r = annotate_vep(vcf, miss_cache, transcripts=tx).collect()
    hit = [x for x in r if x.start == 1103][0]
    fm = dict(zip(VEP_CSQ_FIELDS, hit.CSQ.split("|")))
    assert fm["AF"] == "" and fm["AFR_AF"] == "" and fm["MAX_AF"] == ""


def test_csq_placeholder_width_all_modes(spark):
    """Replay of the reference's placeholder-layout width battery
    (annotate_provider.rs test_csq_placeholder_layout_matches_schema_width_
    for_all_modes :8930 + aligns_refseq_and_merged_fields :8973): a variant
    with NO transcript hit renders an intergenic placeholder entry of the
    full mode width — 74/78/79 and 80/85/86 — with VARIANT_CLASS /
    Batch-3 values in their mode-specific slots and empty provenance."""
    from datafusion_bio_functions_spark.operators.vep import (
        annotate_vep,
        vep_csq_fields,
    )

    vcf = spark.createDataFrame(
        [("1", 50, 50, "G", "A")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 50, 50, "rs123", "G/A", "pathogenic", 0.1)],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string, clin_sig string, AF double",
    )
    # transcript far away on another contig → intergenic placeholder
    tx = spark.createDataFrame(
        [("T1", "9", 1_000_000, 1_000_600, 1, "protein_coding", "G1", "GENE1")],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string",
    )
    for everything in (False, True):
        for mode in ("ensembl", "refseq", "merged"):
            fields = vep_csq_fields(mode, everything)
            r = annotate_vep(
                vcf, cache, transcripts=tx, csq_mode=mode,
                csq_everything=everything,
            ).collect()[0]
            parts = r.CSQ.split("|")
            assert len(parts) == len(fields), (mode, everything, len(parts))
            f = dict(zip(fields, parts))
            assert f["Consequence"] == "intergenic_variant"
            assert f["VARIANT_CLASS"] == "SNV"
            assert f["Existing_variation"] == "rs123"
            assert f["CLIN_SIG"] == "pathogenic"
            assert f["AF"] == "0.1000"
            assert f["REFSEQ_MATCH" if mode != "ensembl" else "SYMBOL"] == ""
            assert f["MOTIF_NAME"] == "" and f["TRANSCRIPTION_FACTORS"] == ""
            assert r.most_severe_consequence == "intergenic_variant"


def test_transcript_selection_flags_reject_invalid_combinations():
    """annotate_provider.rs test_transcript_selection_flags_reject_invalid_
    combinations (:8897): the reference's rejected switch combinations and
    message fragments."""
    from datafusion_bio_functions_spark.operators.vep import (
        TranscriptSelectionFlags,
    )

    for opts, frag in [
        ({"refseq": True, "merged": True}, "--refseq and --merged"),
        ({"refseq": True, "gencode_basic": True}, "--refseq and --gencode_basic"),
        ({"refseq": True, "gencode_primary": True}, "--refseq and --gencode_primary"),
        (
            {"gencode_basic": True, "gencode_primary": True},
            "--gencode_basic and --gencode_primary",
        ),
        ({"all_refseq": True}, "--all_refseq requires --refseq or --merged"),
        (
            {"exclude_predicted": True},
            "--exclude_predicted requires --refseq or --merged",
        ),
    ]:
        with pytest.raises(ValueError, match=frag.replace("--", "--")):
            TranscriptSelectionFlags.from_options(opts)


def test_passes_transcript_selection_reference_battery(spark):
    """annotate_provider.rs test_passes_transcript_selection_matches_vep_
    refseq_filters (:9409): the same six transcripts × six selections,
    replayed against BOTH the scalar twin and the Catalyst predicate
    (actual DataFrame filter) so the two cannot drift."""
    from datafusion_bio_functions_spark.operators.vep import (
        TranscriptSelectionFlags,
        passes_transcript_selection,
        transcript_selection_predicate,
    )

    rows = [
        # (transcript_id, source, display_xref_id, gencode_basic, gencode_primary)
        ("ENST00000311111", "Ensembl", None, False, False),
        ("NM_000001", "RefSeq", None, False, False),
        ("CCDS1234.1", "RefSeq", "CCDS1234", False, False),
        ("XM_123456", "RefSeq", None, False, False),
        ("ENST00000322222", "Ensembl", None, True, True),
    ]
    t = spark.createDataFrame(
        [(tid, "1", 1, 100, src, dx, gb, gp) for tid, src, dx, gb, gp in rows],
        "transcript_id string, chrom string, start long, end long, "
        "source string, display_xref_id string, "
        "is_gencode_basic boolean, is_gencode_primary boolean",
    )

    cases = [
        # (options, expected surviving transcript_ids)
        (None, {"ENST00000311111", "ENST00000322222"}),
        # CCDS excluded without all_refseq; XM_ is an accession-shaped
        # default id (only exclude_predicted removes it)
        ({"refseq": True}, {"NM_000001", "XM_123456"}),
        (
            {"merged": True, "all_refseq": True},
            {"ENST00000311111", "ENST00000322222", "NM_000001",
             "CCDS1234.1", "XM_123456"},
        ),
        (
            {"merged": True, "all_refseq": True, "exclude_predicted": True},
            {"ENST00000311111", "ENST00000322222", "NM_000001", "CCDS1234.1"},
        ),
        ({"gencode_basic": True}, {"ENST00000322222"}),
        ({"merged": True, "gencode_primary": True}, {"ENST00000322222"}),
    ]
    cols = t.columns
    for opts, expected in cases:
        flags = TranscriptSelectionFlags.from_options(opts)
        got = {
            r.transcript_id
            for r in t.filter(transcript_selection_predicate(flags, cols)).collect()
        }
        assert got == expected, (opts, got)
        scalar = {
            tid
            for tid, src, dx, gb, gp in rows
            if passes_transcript_selection(
                {
                    "transcript_id": tid, "chrom": "1", "source": src,
                    "display_xref_id": dx, "is_gencode_basic": gb,
                    "is_gencode_primary": gp,
                },
                flags,
            )
        }
        assert scalar == expected, (opts, scalar)


def test_transcript_selection_mitochondrial_default_ids():
    """is_default_refseq_transcript_id's mitochondrial arm
    (annotate_provider.rs:5715-5749): 4-digit stable ids and rna-prefixed
    uppercase ids count as default RefSeq ids on chrM only."""
    from datafusion_bio_functions_spark.operators.vep import (
        TranscriptSelectionFlags,
        passes_transcript_selection,
    )

    flags = TranscriptSelectionFlags.from_options({"refseq": True})
    mt = {"transcript_id": "4577", "chrom": "MT", "source": "RefSeq"}
    assert passes_transcript_selection(mt, flags)
    assert passes_transcript_selection({**mt, "transcript_id": "rna-TRNF"}, flags)
    # same ids off the mitochondrion are not default accessions
    assert not passes_transcript_selection({**mt, "chrom": "1"}, flags)
    assert not passes_transcript_selection(
        {**mt, "chrom": "1", "transcript_id": "rna-TRNF"}, flags
    )
    # display xref fallback works anywhere
    assert passes_transcript_selection(
        {
            "transcript_id": "CCDS9.1", "chrom": "1", "source": "RefSeq",
            "display_xref_id": "NM_000123",
        },
        flags,
    )


def test_annotate_vep_transcript_selection_end_to_end(spark):
    """transcript_selection filters the pairing AND (csq_mode left default)
    picks the matching provenance CSQ layout: a refseq selection keeps only
    the NM_ transcript and renders the 78-field refseq layout."""
    from datafusion_bio_functions_spark.operators.vep import vep_csq_fields

    vcf = spark.createDataFrame(
        [("1", 1103, 1103, "G", "A")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [], "chrom string, start long, end long, variation_name string, "
        "allele_string string",
    )
    tx = spark.createDataFrame(
        [
            ("ENST00000001", "1", 1100, 1108, 1, "protein_coding",
             "G1", "GENE1", "Ensembl"),
            ("NM_000001", "1", 1100, 1108, 1, "protein_coding",
             "G1", "GENE1", "RefSeq"),
        ],
        "transcript_id string, chrom string, start long, end long, "
        "strand int, biotype string, gene_stable_id string, "
        "gene_symbol string, source string",
    )
    out = annotate_vep(
        vcf, cache, transcripts=tx, transcript_selection={"refseq": True},
    )
    r = out.collect()[0]
    fields = vep_csq_fields("refseq")
    entries = r.CSQ.split(",")
    assert len(entries) == 1  # the Ensembl transcript was filtered out
    parts = entries[0].split("|")
    assert len(parts) == len(fields) == 78
    f = dict(zip(fields, parts))
    assert f["Feature"] == "NM_000001"
    # positional engine rejects the option
    with pytest.raises(ValueError, match="codon engine"):
        annotate_vep(vcf, cache, transcript_selection={"refseq": True})


def test_annotate_vep_sift_skip_semantics(spark):
    """annotate_provider.rs test_lookup_sift_polyphen_non_substitution_
    skipped / _missing_transcript (:8616,:8650): multi-residue alt AAs,
    range protein positions, and transcripts absent from the prediction
    table all leave SIFT/PolyPhen NULL."""
    from datafusion_bio_functions_spark.operators.vep import annotate_vep

    vcf = spark.createDataFrame(
        [
            ("1", 1103, 1103, "G", "A"),      # A/T missense at codon 2 (T1)
            ("1", 1104, 1103, "-", "TTT"),    # inframe insertion: range pos
        ],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [], "chrom string, start long, end long, variation_name string, "
        "allele_string string",
    )
    tx = spark.createDataFrame(
        [("T_MISSING", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1",
          1100, 1108, "ATGGCTTAA")],
        "transcript_id string, chrom string, start long, end long, "
        "strand int, biotype string, gene_stable_id string, "
        "gene_symbol string, cds_start long, cds_end long, "
        "cds_sequence string",
    )
    # prediction table keyed by a DIFFERENT transcript: missing-transcript
    # lookups stay empty even when position+alt match
    sift = spark.createDataFrame(
        [("T_OTHER", 2, "T", "deleterious", 0.01, "probably damaging", 0.95)],
        "transcript_id string, protein_position long, alt_aa string, "
        "sift_prediction string, sift_score double, "
        "polyphen_prediction string, polyphen_score double",
    )
    rows = annotate_vep(
        vcf, cache, transcripts=tx, full_schema=True, sift=sift
    ).orderBy("start").collect()
    assert all(r.SIFT is None and r.PolyPhen is None for r in rows)


def test_format_hgvsp_output_twins(spark):
    """format_hgvsp_output (annotate_provider.rs:2418-2449; VEP
    OutputFactory.pm L1706-1715): version strip only when the suffix is
    all digits, prediction parens around the FIRST :p. suffix, '=' → %3D
    by default — scalar and Column twins agree on every case."""
    from datafusion_bio_functions_spark.functions.consequence import (
        format_hgvsp_output,
        format_hgvsp_output_col,
    )

    cases = [
        # (raw, remove_version, no_escape, prediction, expected)
        ("ENSP1.2:p.Ala2Val", False, False, False, "ENSP1.2:p.Ala2Val"),
        ("ENSP1.2:p.Ala2Val", True, False, False, "ENSP1:p.Ala2Val"),
        ("ENSP0.1.2:p.Ala2Val", True, False, False, "ENSP0.1:p.Ala2Val"),
        # non-digit version → untouched
        ("ENSP1.x:p.Ala2Val", True, False, False, "ENSP1.x:p.Ala2Val"),
        ("ENSP1:p.Ala2Val", True, False, False, "ENSP1:p.Ala2Val"),
        # synonymous: default escapes '='
        ("ENSP1.2:p.Ala2=", False, False, False, "ENSP1.2:p.Ala2%3D"),
        ("ENSP1.2:p.Ala2=", False, True, False, "ENSP1.2:p.Ala2="),
        # prediction format parenthesizes the whole suffix
        ("ENSP1.2:p.Ala2Val", False, False, True, "ENSP1.2:p.(Ala2Val)"),
        ("ENSP1.2:p.Ala2=", True, False, True, "ENSP1:p.(Ala2%3D)"),
        # no :p. → only the escape applies
        ("nonsense=", False, False, True, "nonsense%3D"),
    ]
    for raw, rv, ne, pf, want in cases:
        assert format_hgvsp_output(raw, rv, ne, pf) == want, (raw, rv, ne, pf)
    df = spark.createDataFrame([(raw,) for raw, *_ in cases], "raw string")
    for i, (raw, rv, ne, pf, want) in enumerate(cases):
        got = (
            df.filter(F.col("raw") == raw)
            .select(format_hgvsp_output_col(F.col("raw"), rv, ne, pf).alias("o"))
            .collect()[0].o
        )
        assert got == want, ("column twin", raw, rv, ne, pf, got)


def test_annotate_vep_hgvs_options_end_to_end(spark):
    """hgvs_flags at the writers (annotate_provider.rs:4243-4260 CSQ /
    4645-4660 typed): the default escapes synonymous '=' to %3D in both
    the CSQ entry and the typed HGVSp; hgvs_options={} (reference raw
    default) empties both HGVS slots; no_escape keeps '='."""
    from datafusion_bio_functions_spark.operators.vep import (
        annotate_vep,
        vep_csq_fields,
    )

    vcf = spark.createDataFrame(
        [("1", 1105, 1105, "T", "C")],   # GCT->GCC codon 2: synonymous
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [], "chrom string, start long, end long, variation_name string, "
        "allele_string string",
    )
    tx = spark.createDataFrame(
        [("T1", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1",
          1100, 1108, "ATGGCTTAA")],
        "transcript_id string, chrom string, start long, end long, "
        "strand int, biotype string, gene_stable_id string, "
        "gene_symbol string, cds_start long, cds_end long, "
        "cds_sequence string",
    )
    fields = vep_csq_fields("ensembl")

    r = annotate_vep(vcf, cache, transcripts=tx, full_schema=True).collect()[0]
    f = dict(zip(fields, r.CSQ.split("|")))
    assert f["Consequence"] == "synonymous_variant"
    assert f["HGVSp"] == "T1:p.Ala2%3D"
    assert r.HGVSp == "T1:p.Ala2%3D"
    assert f["HGVSc"] == "T1:c.6T>C" and r.HGVSc == "T1:c.6T>C"

    r = annotate_vep(
        vcf, cache, transcripts=tx, full_schema=True,
        hgvs_options={"hgvs": True, "no_escape": True},
    ).collect()[0]
    f = dict(zip(fields, r.CSQ.split("|")))
    assert f["HGVSp"] == "T1:p.Ala2=" and r.HGVSp == "T1:p.Ala2="

    # reference raw defaults: no hgvs flags → both slots empty
    r = annotate_vep(
        vcf, cache, transcripts=tx, full_schema=True, hgvs_options={},
    ).collect()[0]
    f = dict(zip(fields, r.CSQ.split("|")))
    assert f["HGVSc"] == "" and f["HGVSp"] == ""
    assert r.HGVSc is None and r.HGVSp is None
    assert f["Consequence"] == "synonymous_variant"  # terms unaffected

    # positional engine rejects the option
    with pytest.raises(ValueError, match="codon engine"):
        annotate_vep(vcf, cache, hgvs_options={"hgvs": True})


def test_vep_flags_implication_rules():
    """VepFlags.from_options (annotate_provider.rs:1110-1162): everything
    implies every sub-flag; any AF flag implies check_existing; the raw
    mapping default is all-off."""
    from datafusion_bio_functions_spark.operators.vep import VepFlags

    raw = VepFlags.from_options({})
    assert not raw.check_existing and not raw.af and not raw.max_af

    ce = VepFlags.from_options({"af_gnomadg": True})
    assert ce.check_existing and ce.af_gnomadg
    assert not ce.af and not ce.af_1kg and not ce.af_gnomade and not ce.max_af

    ev = VepFlags.from_options({"everything": True})
    assert all(
        getattr(ev, k)
        for k in ("check_existing", "af", "af_1kg", "af_gnomade",
                  "af_gnomadg", "max_af", "pubmed")
    )

    permissive = VepFlags.from_options(None)
    assert permissive.check_existing and permissive.af and permissive.max_af


def test_annotate_vep_vep_options_gating(spark):
    """vep_options gates the colocated block (reference :4012 and the
    AF_COLUMNS flag groups): {} empties Existing_variation/CLIN_SIG/AF;
    af alone renders only the global AF; max_af alone extracts
    frequencies for MAX_AF but keeps every CSQ AF slot empty."""
    from datafusion_bio_functions_spark.operators.vep import (
        annotate_vep,
        vep_csq_fields,
    )

    vcf = spark.createDataFrame(
        [("1", 1103, 1103, "G", "A")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 1103, 1103, "rs77", "G/A", "pathogenic", 0.25, 0.5)],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string, clin_sig string, AF double, AFR double",
    )
    tx = spark.createDataFrame(
        [("T1", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1")],
        "transcript_id string, chrom string, start long, end long, "
        "strand int, biotype string, gene_stable_id string, "
        "gene_symbol string",
    )
    fields = vep_csq_fields("ensembl")

    # permissive default: everything renders
    r = annotate_vep(vcf, cache, transcripts=tx, full_schema=True).collect()[0]
    f = dict(zip(fields, r.CSQ.split("|")))
    assert f["Existing_variation"] == "rs77" and f["CLIN_SIG"] == "pathogenic"
    assert f["AF"] == "0.2500" and f["AFR_AF"] == "0.5"
    assert f["MAX_AF"] == "0.5" and f["MAX_AF_POPS"] == "AFR"
    assert r.Existing_variation == "rs77" and r.CLIN_SIG == "pathogenic"
    assert abs(r.AF - 0.25) < 1e-6 and abs(r.MAX_AF - 0.5) < 1e-6

    # reference raw defaults: the whole colocated block is off
    r = annotate_vep(
        vcf, cache, transcripts=tx, full_schema=True, vep_options={},
    ).collect()[0]
    f = dict(zip(fields, r.CSQ.split("|")))
    assert f["Existing_variation"] == "" and f["CLIN_SIG"] == ""
    assert f["AF"] == "" and f["AFR_AF"] == ""
    assert f["MAX_AF"] == "" and f["MAX_AF_POPS"] == ""
    assert r.Existing_variation == "" and r.CLIN_SIG is None
    assert r.AF is None and r.MAX_AF is None

    # --af alone: global AF only (check_existing implied)
    r = annotate_vep(
        vcf, cache, transcripts=tx, full_schema=True,
        vep_options={"af": True},
    ).collect()[0]
    f = dict(zip(fields, r.CSQ.split("|")))
    assert f["AF"] == "0.2500" and f["AFR_AF"] == ""
    assert f["MAX_AF"] == "" and f["Existing_variation"] == "rs77"
    assert abs(r.AF - 0.25) < 1e-6 and r.AFR_AF is None and r.MAX_AF is None

    # --max_af alone: frequencies feed MAX_AF but no AF slot renders
    r = annotate_vep(
        vcf, cache, transcripts=tx, full_schema=True,
        vep_options={"max_af": True},
    ).collect()[0]
    f = dict(zip(fields, r.CSQ.split("|")))
    assert f["AF"] == "" and f["AFR_AF"] == ""
    assert f["MAX_AF"] == "0.5" and f["MAX_AF_POPS"] == "AFR"
    assert r.AF is None and r.AFR_AF is None and abs(r.MAX_AF - 0.5) < 1e-6


def test_lookup_variants_failed_filter(spark):
    """VEP filter_variation() QC filter (variant_lookup_exec.rs:1213-1222,
    options_json key 'failed'): cache rows with failed > allowed_failed are
    dropped BEFORE matching; default 0 excludes failed variants, NULL
    failed counts as 0."""
    vcf = spark.createDataFrame(
        [("1", 100, 100, "A", "T"), ("1", 200, 200, "G", "C")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 100, 100, "rs_failed", "A/T", 1),
         ("1", 200, 200, "rs_ok", "G/C", None)],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string, failed int",
    )
    rows = {r.start: r for r in lookup_variants(vcf, cache).collect()}
    assert rows[100].variation_name is None and rows[100].matched is False
    assert rows[200].variation_name == "rs_ok" and rows[200].matched is True

    rows = {
        r.start: r
        for r in lookup_variants(vcf, cache, allowed_failed=1).collect()
    }
    assert rows[100].variation_name == "rs_failed"

    # threaded through annotate_vep + the SQL surface 'failed' key
    from datafusion_bio_functions_spark.sql_surface import bio_sql

    out = annotate_vep(vcf, cache).orderBy("start").collect()
    assert out[0].existing_variation == "" and out[1].existing_variation == "rs_ok"
    vcf.createOrReplaceTempView("failvcf")
    cache.createOrReplaceTempView("failcache")
    got = bio_sql(
        spark,
        "SELECT start, existing_variation AS ev FROM annotate_vep("
        "'failvcf', 'failcache', '{\"failed\": 1}') ORDER BY start",
    )
    assert [r.ev for r in got.collect()] == ["rs_failed", "rs_ok"]


def test_propagate_gene_hgnc_region_scoping(spark):
    """annotate_provider.rs test_stateful_buffer_local_transcripts_* net
    behavior (:9589-:9862): HGNC donation is scoped to VEP's 1 Mb
    transcript-cache regions — a donor reaches a same-symbol transcript
    sharing a region (carry-over within/across adjacent buffers) but NOT
    one in a distant region (the prune test's XR_REGION1)."""
    from datafusion_bio_functions_spark.operators.vep import propagate_gene_hgnc

    schema = (
        "transcript_id string, chrom string, start long, end long, "
        "gene_stable_id string, gene_symbol string, "
        "gene_symbol_source string, hgnc_id_native string, hgnc_id string"
    )
    rows = [
        # donor at region 0 (chr2:100-200)
        ("ENST_DONOR", "chr2", 100, 200, "ENSG00000123456", "PDK1",
         "HGNC", "HGNC:8809", None),
        # same symbol, spans region 0 → receives (the carry case)
        ("XR_REGION0", "chr2", 100, 700_000, "5163", "PDK1",
         "EntrezGene", None, None),
        # same symbol, region 1 only (1.05 Mb) → pruned, stays None
        ("XR_REGION1", "chr2", 1_050_000, 1_060_000, "5163", "PDK1",
         "EntrezGene", None, None),
        # same symbol on ANOTHER chromosome → never receives
        ("XR_OTHERCHROM", "chr3", 150, 250, "5163", "PDK1",
         "EntrezGene", None, None),
        # receiver spanning regions 0-1 reaches the region-0 donor
        ("XR_SPANNING", "chr2", 500_000, 1_200_000, "5163", "PDK1",
         "EntrezGene", None, None),
    ]
    out = {
        r["transcript_id"]: r
        for r in propagate_gene_hgnc(spark.createDataFrame(rows, schema)).collect()
    }
    assert out["ENST_DONOR"]["hgnc_id"] == "HGNC:8809"
    assert out["XR_REGION0"]["hgnc_id"] == "HGNC:8809"
    assert out["XR_REGION1"]["hgnc_id"] is None
    assert out["XR_OTHERCHROM"]["hgnc_id"] is None
    assert out["XR_SPANNING"]["hgnc_id"] == "HGNC:8809"
    # coordinate-less tables keep the global donor maps (legacy path)
    legacy = spark.createDataFrame(
        [("A", "G1", "S", "HGNC", "HGNC:1", None),
         ("B", "G2", "S", "EntrezGene", None, None)],
        "transcript_id string, gene_stable_id string, gene_symbol string, "
        "gene_symbol_source string, hgnc_id_native string, hgnc_id string",
    )
    got = {r["transcript_id"]: r for r in propagate_gene_hgnc(legacy).collect()}
    assert got["B"]["hgnc_id"] == "HGNC:1"


def test_annotate_vep_hgnc_propagation_in_pipeline(spark):
    """A transcripts table carrying hgnc_id_native propagates through the
    annotate pipeline (reference apply_buffer_local_hgnc_propagation runs
    before the engine): the same-symbol, same-region RefSeq twin's typed
    HGNC_ID fills from the Ensembl donor."""
    from datafusion_bio_functions_spark.operators.vep import annotate_vep

    vcf = spark.createDataFrame(
        [("1", 1103, 1103, "G", "A")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [], "chrom string, start long, end long, variation_name string, "
        "allele_string string",
    )
    tx = spark.createDataFrame(
        [
            # donor transcript far away (same region) seeds the symbol map
            ("ENST_DONOR", "1", 50_000, 51_000, 1, "protein_coding",
             "ENSG1", "GENE1", "HGNC", "HGNC:42", None),
            # the paired transcript lacks a native id
            ("NM_TWIN", "1", 1100, 1108, 1, "protein_coding",
             "GENE:G1", "GENE1", "EntrezGene", None, None),
        ],
        "transcript_id string, chrom string, start long, end long, "
        "strand int, biotype string, gene_stable_id string, "
        "gene_symbol string, gene_symbol_source string, "
        "hgnc_id_native string, hgnc_id string",
    )
    out = annotate_vep(vcf, cache, transcripts=tx, full_schema=True)
    r = {x.Feature: x for x in out.collect()}
    assert "NM_TWIN" in r
    assert r["NM_TWIN"].HGNC_ID == "HGNC:42"


def test_csq_entries_grouped_by_feature_type_then_sorted_by_id(spark):
    """annotate_table_function.rs test_csq_entries_sorted_by_feature_id_
    within_feature_type (:2261) + test_csq_entries_grouped_by_feature_
    type_then_sorted_by_id (:2366): Transcript entries precede
    RegulatoryFeature entries precede MotifFeature entries, and within
    each group entries sort by feature id — regardless of supply order."""
    from datafusion_bio_functions_spark.operators.vep import (
        annotate_vep,
        vep_csq_fields,
    )

    vcf = spark.createDataFrame(
        [("1", 155, 155, "A", "T")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [], "chrom string, start long, end long, variation_name string, "
        "allele_string string",
    )
    # deliberately non-lexicographic supply order (C > A > B)
    tx = spark.createDataFrame(
        [("ENST00000900000", "1", 100, 250, 1, "protein_coding", "G1", "GENE1"),
         ("ENST00000100000", "1", 100, 250, 1, "protein_coding", "G1", "GENE1"),
         ("ENST00000500000", "1", 100, 250, 1, "protein_coding", "G1", "GENE1")],
        "transcript_id string, chrom string, start long, end long, "
        "strand int, biotype string, gene_stable_id string, gene_symbol string",
    )
    reg = spark.createDataFrame(
        [("1", 120, 200, "ENSR0009", "promoter"),
         ("1", 120, 200, "ENSR0001", "promoter")],
        "chrom string, start long, end long, feature_id string, feature_type string",
    )
    mot = spark.createDataFrame(
        [("1", 150, 160, "ENSM0002"), ("1", 150, 160, "ENSM0001")],
        "chrom string, start long, end long, feature_id string",
    )
    out = annotate_vep(
        vcf, cache, transcripts=tx, regulatory=reg, motifs=mot
    ).collect()[0]
    fields = vep_csq_fields("ensembl")
    entries = [dict(zip(fields, e.split("|"))) for e in out.CSQ.split(",")]
    types = [e["Feature_type"] for e in entries]
    ids = [e["Feature"] for e in entries]
    # motif hits collapse to ONE id-less MotifFeature entry per variant —
    # the reference's append_tfbs_terms is an any() over the motif table
    # pushing a single TranscriptConsequence with transcript_id=None
    # (transcript_consequence.rs:1573-1621; round-11 CSQ grid replay)
    assert types == ["Transcript"] * 3 + ["RegulatoryFeature"] * 2 + ["MotifFeature"]
    assert ids[:3] == ["ENST00000100000", "ENST00000500000", "ENST00000900000"]
    assert ids[3:5] == ["ENSR0001", "ENSR0009"]
    assert ids[5:] == [""]


def test_cache_ingest_dedup_rules(spark):
    """cache_builder.rs dedup contracts: translations keep one row per
    transcript preferring the transcript's OWN 1 Mb region file, then
    smallest cdna_coding_start NULLS LAST, then source_file
    (build_translation_dedup_query_with_where_clause :77-88); transcripts
    dedup by stable_id; exons by (transcript_id, exon_number)."""
    from datafusion_bio_functions_spark.sources.readers import (
        dedup_exons,
        dedup_transcripts,
        dedup_translations,
    )

    tl = spark.createDataFrame(
        [
            # T1 at start=1_500_000 → own region 1000001-2000000
            ("T1", 1_500_000, 10, "/c/5000001-6000000.gz"),
            ("T1", 1_500_000, 99, "/c/1000001-2000000.gz"),  # own region wins
            # T2: no own-region row; smallest cdna_coding_start wins,
            # NULLs last
            ("T2", 100, None, "/c/a.gz"),
            ("T2", 100, 7, "/c/b.gz"),
            ("T2", 100, 3, "/c/c.gz"),
            # T3: full tie on pref+ccs → source_file tie-break
            ("T3", 100, 5, "/c/z.gz"),
            ("T3", 100, 5, "/c/a.gz"),
        ],
        "transcript_id string, start long, cdna_coding_start int, "
        "source_file string",
    )
    out = {r.transcript_id: r for r in dedup_translations(tl).collect()}
    assert out["T1"].source_file == "/c/1000001-2000000.gz"
    assert out["T2"].cdna_coding_start == 3
    assert out["T3"].source_file == "/c/a.gz"

    tx = spark.createDataFrame(
        [("S1", "1", 100), ("S1", "1", 50), ("S2", "2", 10)],
        "stable_id string, chrom string, start long",
    )
    got = {r.stable_id: r for r in dedup_transcripts(tx).collect()}
    assert len(got) == 2 and got["S1"].start == 50

    ex = spark.createDataFrame(
        [("T1", 1, 100, 200), ("T1", 1, 100, 200), ("T1", 2, 300, 400)],
        "transcript_id string, exon_number int, start long, end long",
    )
    assert dedup_exons(ex).count() == 2


def test_chrom_prefix_normalization_across_frames(spark):
    """The reference strips the 'chr' contig prefix at every row-level
    comparison (annotate_provider.rs:4002,4128 + contig discovery
    :3640-3650): a chr-prefixed VCF annotates against a bare-contig cache
    and transcript set, and vice versa.  Same-form frames keep the raw
    equi-key (plan-shape fast path)."""
    from datafusion_bio_functions_spark.operators.vep import (
        annotate_vep,
        lookup_variants,
    )

    vcf = spark.createDataFrame(
        [("chr1", 1103, 1103, "G", "A")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 1103, 1103, "rs9", "G/A")],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string",
    )
    r = lookup_variants(vcf, cache).collect()[0]
    assert r.variation_name == "rs9" and r.matched is True
    # forced off: raw equality misses
    r = lookup_variants(vcf, cache, chrom_normalize=False).collect()[0]
    assert r.variation_name is None

    tx = spark.createDataFrame(
        [("T1", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1",
          1100, 1108, "ATGGCTTAA")],
        "transcript_id string, chrom string, start long, end long, "
        "strand int, biotype string, gene_stable_id string, "
        "gene_symbol string, cds_start long, cds_end long, "
        "cds_sequence string",
    )
    out = annotate_vep(vcf, cache, transcripts=tx).collect()[0]
    assert out.most_severe_consequence == "missense_variant"
    assert out.existing_variation == "rs9"
    # reverse orientation: bare VCF, chr-prefixed context
    vcf2 = spark.createDataFrame(
        [("1", 1103, 1103, "G", "A")],
        "chrom string, start long, end long, ref string, alt string",
    )
    tx2 = tx.withColumn("chrom", F.concat(F.lit("chr"), F.col("chrom")))
    reg = spark.createDataFrame(
        [("chr1", 1100, 1200, "ENSR1", "promoter")],
        "chrom string, start long, end long, feature_id string, "
        "feature_type string",
    )
    out = annotate_vep(
        vcf2, cache, transcripts=tx2, regulatory=reg
    ).collect()[0]
    assert out.most_severe_consequence == "missense_variant"
    assert "ENSR1" in out.CSQ


def test_annotate_to_vcf_header_follows_transcript_selection(spark, tmp_path):
    """A refseq transcript_selection switches the body entries to the
    78-field provenance layout — the sink's advertised Format list must
    follow the same derivation (header/body agreement rule)."""
    import os

    from datafusion_bio_functions_spark.operators.vep import vep_csq_fields
    from datafusion_bio_functions_spark.sources.readers import annotate_to_vcf

    vcf = spark.createDataFrame(
        [("1", 1103, 1103, "G", "A")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [], "chrom string, start long, end long, variation_name string, "
        "allele_string string",
    )
    tx = spark.createDataFrame(
        [("NM_000001", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1",
          "RefSeq")],
        "transcript_id string, chrom string, start long, end long, "
        "strand int, biotype string, gene_stable_id string, "
        "gene_symbol string, source string",
    )
    out = str(tmp_path / "sel_vcf")
    annotate_to_vcf(
        vcf, cache, out, transcripts=tx,
        transcript_selection={"refseq": True},
    )
    hdr = open(os.path.join(out, "00_header.vcf")).read()
    fmt = hdr.split("Format: ")[1].split('"')[0]
    assert fmt.split("|") == vep_csq_fields("refseq")
    assert len(fmt.split("|")) == 78


def test_vep_options_everything_unsuppresses_gnomad_subpops(spark):
    """Reference emit_in_csq || flags.everything (annotate_provider.rs:1837):
    vep_options={'everything': True} fills the gnomAD sub-population CSQ
    slots even in the default 74-field layout."""
    from datafusion_bio_functions_spark.operators.vep import (
        annotate_vep,
        vep_csq_fields,
    )

    vcf = spark.createDataFrame(
        [("1", 1103, 1103, "G", "A")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 1103, 1103, "rs1", "G/A", 0.125)],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string, gnomADe_AFR double",
    )
    tx = spark.createDataFrame(
        [("T1", "1", 1100, 1108, 1, "protein_coding", "G1", "GENE1")],
        "transcript_id string, chrom string, start long, end long, "
        "strand int, biotype string, gene_stable_id string, gene_symbol string",
    )
    fields = vep_csq_fields("ensembl")
    # default permissive flags: the sub-pop slot is SUPPRESSED outside
    # --everything, like the reference's emit_in_csq=false
    r = annotate_vep(vcf, cache, transcripts=tx).collect()[0]
    assert dict(zip(fields, r.CSQ.split("|")))["gnomADe_AFR"] == ""
    # the everything flag un-suppresses it without the 80-field layout
    r = annotate_vep(
        vcf, cache, transcripts=tx, vep_options={"everything": True},
    ).collect()[0]
    assert dict(zip(fields, r.CSQ.split("|")))["gnomADe_AFR"] == "0.125"


def test_chrom_forms_probe_is_exact_on_mixed_frames(spark):
    """A frame MIXING chr-prefixed and bare contigs (chr1 rows plus a bare
    MT minority) must trigger key normalization — the form probe is a
    distinct aggregate, not a row-limit sample."""
    rows = [("chr1", i, i, "A", "T") for i in range(1, 400)] + [
        ("MT", 500, 500, "A", "T")
    ]
    vcf = spark.createDataFrame(
        rows, "chrom string, start long, end long, ref string, alt string"
    )
    cache = spark.createDataFrame(
        [("MT", 500, 500, "rs_mt", "A/T")],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string",
    )
    got = lookup_variants(vcf, cache).filter("matched").collect()
    assert len(got) == 1 and got[0].variation_name == "rs_mt"


def test_cache_ingest_dedup_is_deterministic_on_full_ties(spark):
    """Duplicate spill rows sharing the window's order keys but differing
    in payload pick a content-hash-stable winner: two runs agree."""
    from datafusion_bio_functions_spark.sources.readers import (
        dedup_exons,
        dedup_transcripts,
    )

    tx = spark.createDataFrame(
        [("S1", "1", 100, 900, "/spill/b.gz"), ("S1", "1", 100, 700, "/spill/a.gz")],
        "stable_id string, chrom string, start long, end long, source_file string",
    )
    a = dedup_transcripts(tx).collect()
    b = dedup_transcripts(tx).collect()
    assert len(a) == 1 and a == b

    ex = spark.createDataFrame(
        [("T1", 1, 100, 200, "x"), ("T1", 1, 100, 200, "y")],
        "transcript_id string, exon_number int, start long, end long, tag string",
    )
    a = dedup_exons(ex).collect()
    b = dedup_exons(ex).collect()
    assert len(a) == 1 and a == b


def test_lookup_matches_shifted_or_unshifted_indel(spark):
    """variant_lookup_exec.rs compare_existing_variant_matches_shifted_or_
    unshifted_input: an input deletion written at its UNSHIFTED anchor
    (AAA/A at 100) matches a cache record stored in the shifted compare
    space (AA/- at 101-102), and vice versa — both orientations reach the
    same minimized allele space on the probe path."""
    from datafusion_bio_functions_spark.operators.vep import lookup_variants

    # unshifted-input form: AAA>A anchored at 100 (vep-norm → 101-102 AA/-)
    unshifted = spark.createDataFrame(
        [("1", 100, 102, "AAA", "A")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 101, 102, "rsDEL", "AA/-")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    # exact mode already matches: vep_norm trims the anchor base
    assert lookup_variants(unshifted, cache).collect()[0].variation_name == "rsDEL"
    # repeat-shifted twin one period downstream still matches on the
    # probe path (the anchored/shifted dual of the same event)
    shifted_cache = spark.createDataFrame(
        [("1", 102, 103, "rsDEL2", "AA/-")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    got = lookup_variants(unshifted, shifted_cache, extended_probes=True).collect()[0]
    assert got.variation_name == "rsDEL2"


def test_lookup_deduplicates_exact_and_probe_hits(spark):
    """variant_lookup_exec.rs collect_overlapping_candidates_deduplicates_
    exact_and_tree_hits: a cache record reachable through BOTH the exact
    coordinate probe and the overlap probe contributes exactly one output
    row (the reference dedups by existing-variant id before compare)."""
    from datafusion_bio_functions_spark.operators.vep import lookup_variants

    vcf = spark.createDataFrame(
        [("1", 100, 100, "A", "T")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 100, 100, "rs1", "A/T")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    rows = lookup_variants(vcf, cache, extended_probes=True).collect()
    assert len(rows) == 1 and rows[0].variation_name == "rs1"


def test_option_flags_string_boolean_coercion():
    """Quoted JSON-ish booleans parse by CONTENT: '\"shift_hgvs\": \"0\"'
    means off (bool('0') is True in Python — the naive coercion silently
    inverted it); unrecognized strings raise."""
    import pytest as _pytest

    from datafusion_bio_functions_spark.operators.vep import (
        HgvsFlags,
        TranscriptSelectionFlags,
        VepFlags,
    )

    assert HgvsFlags.from_options({"shift_hgvs": "0"}).shift_hgvs is False
    assert HgvsFlags.from_options({"shift_hgvs": "false"}).shift_hgvs is False
    assert HgvsFlags.from_options({"shift_hgvs": "1"}).shift_hgvs is True
    assert HgvsFlags.from_options({"hgvs": "0"}).hgvsc is False
    assert VepFlags.from_options({"af": "off"}).af is False
    assert TranscriptSelectionFlags.from_options({"refseq": "no"}).source_mode == "ensembl"
    with _pytest.raises(ValueError, match="boolean"):
        HgvsFlags.from_options({"shift_hgvs": "maybe"})


# ---------------------------------------------------------------------------
# per-row identity: the rollups key on a row id, not on the VCF columns
# ---------------------------------------------------------------------------

_ID_TX = [
    ("ENST1", "1", 90, 150, 1, "protein_coding", "ENSG1", "GENE1"),
    ("ENST2", "1", 390, 450, -1, "lncRNA", "ENSG2", "GENE2"),
    ("ENST3", "1", 2000, 2500, 1, "protein_coding", "ENSG3", "GENE3"),
]
_ID_TX_COLS = [
    "transcript_id", "chrom", "start", "end", "strand", "biotype",
    "gene_stable_id", "gene_symbol",
]
_CSQ_COLS = [
    "most_severe_consequence", "existing_variation", "CSQ", "impact",
    "gene_symbol", "feature", "consequence_terms", "matched",
]


def test_codon_consequences_ignore_null_passthrough_columns(spark, cache):
    """A NULL in a passthrough VCF column (a parquet VCF's missing qual or
    id) must not change any consequence: the codon rollup used to join back
    on every VCF column, where NULL never equals NULL, and turned each such
    row into intergenic_variant."""
    rows = [
        ("1", 100, 100, "rs1x", "A", "T", 50.0),
        ("1", 200, 201, "rs2x", "AT", "A", 40.0),
        ("1", 300, 300, "rs3x", "G", "C", 30.0),
        ("1", 400, 400, "rs4x", "A", "G", 20.0),
        ("2", 100, 100, "rs5x", "A", "T", 10.0),
    ]
    schema = "chrom string, start long, end long, id string, ref string, alt string, qual double"
    full = spark.createDataFrame(rows, schema)
    holed = spark.createDataFrame(
        [(c, s, e, None, r, a, None) for c, s, e, _, r, a, _ in rows], schema
    )
    tx = spark.createDataFrame(_ID_TX, _ID_TX_COLS)

    def consequences(vcf):
        out = annotate_vep(vcf, cache, transcripts=tx, engine="codon")
        return sorted(
            (r["chrom"], r["start"], *[str(r[c]) for c in _CSQ_COLS])
            for r in out.collect()
        )

    got, want = consequences(holed), consequences(full)
    assert len(got) == len(rows)
    assert got == want
    assert {g[2] for g in got} != {"intergenic_variant"}


def test_codon_annotate_keeps_map_typed_vcf_column(spark, cache, tmp_path):
    """read_vcf(samples=True) carries a map<string,string> ``genotypes``
    column; the codon engine passes it through instead of raising on a set
    operation over the VCF columns (map columns cannot be compared)."""
    from datafusion_bio_functions_spark.sources.readers import read_vcf

    src = tmp_path / "samples.vcf"
    src.write_text(
        "##fileformat=VCFv4.2\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\n"
        "1\t100\t.\tA\tT\t50\tPASS\t.\tGT\t0/1\t1/1\n"
        "1\t400\t.\tA\tG\t50\tPASS\t.\tGT\t0/0\t0/1\n"
    )
    vcf = read_vcf(spark, str(src), samples=True)
    assert dict(vcf.dtypes)["genotypes"].startswith("map")
    tx = spark.createDataFrame(_ID_TX, _ID_TX_COLS)
    out = {r["start"]: r for r in annotate_vep(vcf, cache, transcripts=tx).collect()}
    assert set(out) == {100, 400}
    assert out[100]["genotypes"] == {"S1": "0/1", "S2": "1/1"}
    assert out[100]["existing_variation"] == "rs1"
    assert out[100]["most_severe_consequence"] == "coding_transcript_variant"
    assert out[400]["most_severe_consequence"] == "non_coding_transcript_exon_variant"


@pytest.mark.parametrize("engine", ["positional", "codon"])
def test_duplicate_vcf_line_keeps_one_row_per_input_row(spark, cache, engine):
    """Two identical VCF lines are two input rows and give two output rows
    on both engines (the positional rollup used to group on the VCF
    columns and collapse them)."""
    vcf = spark.createDataFrame(
        [
            ("1", 100, 100, "A", "T"),
            ("1", 100, 100, "A", "T"),
            ("1", 400, 400, "A", "G"),
        ],
        VCF_COLS,
    )
    tx = spark.createDataFrame(_ID_TX, _ID_TX_COLS)
    rows = annotate_vep(vcf, cache, transcripts=tx, engine=engine).collect()
    assert sorted(r["start"] for r in rows) == [100, 100, 400]
    dup = [r for r in rows if r["start"] == 100]
    assert all(r["existing_variation"] == "rs1" for r in dup)
    assert dup[0]["CSQ"] == dup[1]["CSQ"]
    assert dup[0]["most_severe_consequence"] == "coding_transcript_variant"
