"""VEP-style variant annotation operators.

Re-expresses the reference's ``datafusion-bio-function-vep`` pipeline:

* ``lookup_variants``  — reference UDTF ``lookup_variants(vcf, cache
  [,columns] [,match_mode] [,extended_probes])`` (``table_function.rs:
  25-132``, provider ``lookup_provider.rs:72-250``, join engine
  ``variant_lookup_exec.rs:1-2397``): LEFT join of VCF rows against the
  variation cache on VEP-normalized coordinates with ``match_allele`` as the
  join-level filter; unmatched VCF rows keep NULL cache columns.
* ``annotate_vep``     — the reference's full ``annotate_vep`` UDTF
  (``annotate_table_function.rs:19-132``): known-variant lookup, the
  transcript consequence engine (``functions.consequence`` — the
  re-expression of ``transcript_consequence.rs``) over a broadcast
  variant×transcript pairing, the regulatory/motif/structural/miRNA
  context arms, per-variant CSQ + most-severe rollup, and the complete
  typed column layout (``full_schema=True``) including SIFT/PolyPhen
  from a prediction table and transcript-metadata passthrough.
* ``regulatory_features`` / ``structural_terms`` — the standalone
  context-feature operators (also composable into ``annotate_vep``).

Spark plan shape: the cache is orders of magnitude larger than a VCF batch,
so — like the reference, which always builds on the VCF side
(``variant_lookup_exec.rs:1-8``) — the *VCF* side is broadcast and the
cache streams.  With a chrom-partitioned parquet cache Catalyst prunes
partitions from the ``chrom`` equi-key automatically (the reference needs
explicit per-chrom table registration, ``partitioned_cache.rs:1-40``).

The fjall KV point-lookup backend (``kv_cache/*``) is deliberately NOT
ported: its capability — O(1) per-variant lookup of a position-keyed cache —
is exactly a broadcast hash join here (SURVEY.md §2.1 S5).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.alleles import (
    match_allele_relaxed_udf,
    match_allele_udf,
    match_alleles_ensembl_udf,
    vep_norm_end_udf,
    vep_norm_start_udf,
)
from ._probe_memo import ProbeMemo, plan_key

#: cache columns never projected by default (reference vep
#: table_function.rs:86-93 excludes source_* columns)
_DEFAULT_EXCLUDED_PREFIX = "source_"
#: required cache columns per the reference schema contract
#: (schema_contract.rs:10-33)
CACHE_REQUIRED = ("chrom", "start", "end", "variation_name", "allele_string")
VCF_REQUIRED = ("chrom", "start", "end", "ref", "alt")


#: physical-type families the reference's schema contract accepts
#: (schema_contract.rs:10-33: Utf8/LargeUtf8/Utf8View for strings,
#: integer widths for positions)
_STRING_TYPES = ("string",)
_INT_TYPES = ("tinyint", "smallint", "int", "bigint")
_CONTRACT_TYPES = {
    "chrom": _STRING_TYPES,
    "start": _INT_TYPES,
    "end": _INT_TYPES,
    "variation_name": _STRING_TYPES,
    "allele_string": _STRING_TYPES,
    "ref": _STRING_TYPES,
    "alt": _STRING_TYPES,
}


def _check_contract(df: DataFrame, required: Sequence[str], what: str) -> None:
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise ValueError(f"{what} is missing required columns {missing} (has {df.columns})")
    dtypes = dict(df.dtypes)
    for c in required:
        accepted = _CONTRACT_TYPES.get(c)
        if accepted and dtypes[c] not in accepted:
            # the reference errors on a wrong-typed contract column
            # (schema_contract.rs validate_wrong_type) instead of letting a
            # silent cast turn every lookup into a non-match
            raise ValueError(
                f"{what} column {c!r} has type {dtypes[c]!r}; expected one of {accepted}"
            )


# ── SQL-text CSQ slot builders (r12) ───────────────────────────────────────
# The CSQ entry assembly is ~850 Column-API calls per build, each costing a
# py4j round trip (~0.7 ms measured) — ~0.6 s of pure DRIVER socket wait per
# annotate_vep build (guide §5: the driver should do almost no work).  The
# mechanical concat_ws spans are therefore assembled as SQL TEXT and parsed
# with ONE F.expr call per span; the CSQ grid parity batteries (grids 1-7)
# pin every rendered byte.


def _sql_e(x: str) -> str:
    """A CSQ slot: the value as a string, NULL rendered as ''."""
    return f"coalesce(cast({x} as string), '')"


def _sql_m(key: str) -> str:
    """A CSQ slot from the ``__t_meta`` map (a NULL map yields '')."""
    return f"coalesce(__t_meta['{key}'], '')"


#: the whitespace class CSQ escaping rewrites to ``_`` (Java regex ``\s``)
_CSQ_WHITESPACE = " \t\n\x0b\x0c\r"


def _sql_esc(x: str) -> str:
    """VEP CSQ field escaping as SQL text (reference ``csq_escape``,
    ``annotate_provider.rs`` test_csq_escape_*): the CSQ string's own
    delimiters inside a field VALUE are rewritten — ``,`` and ``|`` become
    ``&``, ``;`` percent-encodes to ``%3B``, whitespace becomes ``_``
    (per-char, like the reference's ``ch.is_whitespace()`` arm), and a
    field that is exactly ``-`` empties (VEP's missing-value dash); NULL
    renders empty.  The text holds no backslash, so it parses the same
    under either ``spark.sql.parser.escapedStringLiterals`` setting."""
    s = f"coalesce(cast({x} as string), '')"
    esc = f"translate(replace({s}, ';', '%3B'), ',|{_CSQ_WHITESPACE}', '&&______')"
    return f"(case when {s} = '-' then '' else {esc} end)"


def _sql_variant_class(ref: str = "ref", alt: str = "alt") -> str:
    """SQL text of VEP's ``VARIANT_CLASS`` over the ``ref``/``alt`` columns
    (mirrors ``functions.consequence.variant_class``)."""
    r = f"(case when {ref} in ('-') then '' else coalesce({ref}, '') end)"
    a = f"(case when {alt} in ('-') then '' else coalesce({alt}, '') end)"
    return (
        f"(case when length({r}) = 1 and length({a}) = 1 then 'SNV' "
        f"when length({r}) = 0 or (length({a}) > length({r}) "
        f"and startswith({a}, {r})) then 'insertion' "
        f"when length({a}) = 0 or (length({r}) > length({a}) "
        f"and startswith({r}, {a})) then 'deletion' "
        f"when length({r}) = length({a}) then 'substitution' "
        f"else 'indel' end)"
    )


def _check_requested_columns(df: DataFrame, columns: Sequence[str], what: str) -> None:
    """Clear error naming any projected column absent from the cache
    (schema_contract.rs validate_requested_columns)."""
    bad = [c for c in columns if c not in df.columns]
    if bad:
        raise ValueError(f"{what} does not contain requested columns {bad} (has {df.columns})")


#: VCF sides above this row count are not broadcast (a 4M-variant WGS VCF
#: would blow the broadcast budget); the probe join then shuffles both sides
#: on the chrom equi-key instead.
VCF_BROADCAST_GUARD_ROWS = 2_000_000


def lookup_variants(
    vcf: DataFrame,
    cache: DataFrame,
    columns: Sequence[str] | None = None,
    match_mode: str = "exact",
    extended_probes: bool = False,
    filter_op: str | None = None,
    allowed_failed: int = 0,
    chrom_normalize: bool | None = None,
) -> DataFrame:
    """Known-variant annotation: VCF LEFT-joined to the variation cache.

    ``chrom_normalize``: ``None`` (default) probes both sides (bounded,
    64 rows) and joins on ``chr``-stripped contig keys only when the two
    frames use DIFFERENT prefix forms (a ``chr1`` VCF against a ``1``
    cache) — the reference strips the prefix at every row-level chrom
    comparison.  Pass True/False to force.  The raw equi-key is kept when
    forms agree so chrom-partitioned caches stay partition-prunable.

    ``allowed_failed``: when the cache carries a ``failed`` column, rows
    with ``failed > allowed_failed`` are dropped BEFORE matching — VEP's
    ``filter_variation()`` QC filter (reference ``variant_lookup_exec.rs:
    1213-1222``, options_json key ``failed``; default 0 excludes failed
    variants).  The filter is a plain Catalyst predicate, so it pushes
    into the cache scan.

    * coordinates are VEP-normalized on the VCF side (``vep_norm_start`` /
      ``vep_norm_end`` — prefix/suffix trim shifts, insertions encoded
      start > end) and matched exactly against cache (start, end);
    * ``extended_probes=True`` switches to overlap matching around the
      variant span (shifted-indel tolerance, reference lookup_provider.rs
      ``extended_probes``);
    * allele agreement (``match_allele`` strict, or ``match_allele_relaxed``
      when ``match_mode='relaxed'``) is part of the join condition, so a
      co-located-but-different variant yields NULL cache columns;
    * ``columns`` projects cache annotation columns (default: all except
      ``source_*``).
    * the VCF side is broadcast when a bounded ``limit(guard+1)`` probe
      proves it is at or under ``VCF_BROADCAST_GUARD_ROWS``.
    * ``filter_op=None`` derives the overlap semantics from the two
      frames' ``bio.coordinate_system_zero_based`` column metadata like the
      reference's ``CoordinateNormalizer`` (``coordinate.rs:49-59``): weak
      when both sides share a coordinate system, strict (boundary shrink)
      when they differ.  Only the ``extended_probes`` overlap is affected.

    Output: all VCF columns + selected cache columns (nullable) +
    ``matched`` boolean.

    ``vcf`` is read twice (the probe, the unmatched-row restore), and the
    two reads are matched on a ``monotonically_increasing_id`` row id:
    every read must return the same rows in the same partitions and order.
    A file scan does; a frame whose plan ends in a shuffle (a join, an
    aggregate, a ``distinct``) may not, and should be written out or
    checkpointed first.
    """
    rows, hits, columns = _lookup(
        vcf, cache, columns, match_mode, extended_probes,
        filter_op, allowed_failed, chrom_normalize,
    )
    # Python UDFs cannot sit in an outer-join ON clause: the probe is an
    # INNER join, and the left join on the row id restores unmatched rows
    joined = rows.join(hits, "__vid", "left")
    return joined.select(
        *vcf.columns, *columns,
        F.coalesce(F.col("matched"), F.lit(False)).alias("matched"),
    )


def _lookup(
    vcf: DataFrame,
    cache: DataFrame,
    columns: Sequence[str] | None = None,
    match_mode: str = "exact",
    extended_probes: bool = False,
    filter_op: str | None = None,
    allowed_failed: int = 0,
    chrom_normalize: bool | None = None,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """The known-variant probe behind :func:`lookup_variants`.

    Returns ``(rows, hits, columns)``.  ``rows`` is the VCF with a row id
    ``__vid``, the VEP-normalized coordinates ``__vstart``/``__vend`` and
    the VEP-minimized alt ``__vep_alt`` (column pruning drops whichever a
    consumer does not read).  ``hits`` has one row per (VCF row, matching
    cache record): ``__vid``, ``__vep_alt``, the projected cache
    ``columns`` and ``matched``; a VCF row without a match has none.

    Each consumer of ``rows`` scans ``vcf`` again, and the id is the row's
    position in its input partition: the ids agree across consumers only
    if every read of ``vcf`` returns the same rows in the same partitions
    and order.  A file scan does; a frame whose plan ends in a shuffle
    (a join, an aggregate, a ``distinct``) may not."""
    _check_contract(vcf, VCF_REQUIRED, "vcf")
    _check_contract(cache, CACHE_REQUIRED, "cache")
    if match_mode not in ("exact", "relaxed"):
        raise ValueError(f"match_mode must be 'exact' or 'relaxed', got {match_mode!r}")
    if "failed" in cache.columns:
        cache = cache.filter(
            F.coalesce(F.col("failed").cast("long"), F.lit(0))
            <= F.lit(int(allowed_failed))
        )

    if columns is None:
        columns = [
            c
            for c in cache.columns
            if c not in ("chrom", "start", "end") and not c.startswith(_DEFAULT_EXCLUDED_PREFIX)
        ]
    else:
        columns = list(columns)
        _check_requested_columns(cache, columns, "cache")
        if "variation_name" not in columns:
            columns = ["variation_name"] + columns
    # the allele matcher always needs allele_string internally
    internal_cols = list(columns)
    if "allele_string" not in internal_cols:
        internal_cols.append("allele_string")

    # ONE projection: the Arrow UDFs fuse into one ArrowEvalPython pass, and
    # the nondeterministic id keeps the filters the optimizer infers from
    # the join keys (isnotnull(__vstart)) above it, so no UDF runs twice
    start = F.col("start").cast("long")
    v = vcf.select(
        "*",
        F.monotonically_increasing_id().alias("__vid"),
        vep_norm_start_udf(start, F.col("ref"), F.col("alt")).alias("__vstart"),
        vep_norm_end_udf(start, F.col("ref"), F.col("alt")).alias("__vend"),
        _vep_alt_expr().alias("__vep_alt"),
    )
    c = cache.select(
        F.col("chrom").alias("__c_chrom"),
        F.col("start").cast("long").alias("__c_start"),
        F.col("end").cast("long").alias("__c_end"),
        *[F.col(x).alias(f"__c_{x}") for x in internal_cols],
    )

    matcher = match_allele_udf if match_mode == "exact" else match_allele_relaxed_udf
    allele_ok = matcher(F.col("ref"), F.col("alt"), F.col("__c_allele_string"))
    # unknown-allele records (no '/' in the allele string, e.g.
    # HGMD_MUTATION / COSMIC ids) match on EXACT VEP-normalized coordinates
    # only (reference compare_existing_variant_alleles,
    # variant_lookup_exec.rs:456-496; pinned by compare_existing_variant_
    # allows_unknown_alleles_on_exact_shifted_coords_only)
    allele_ok = allele_ok | (
        ~F.col("__c_allele_string").contains("/")
        & (F.col("__c_start") == F.col("__vstart"))
        & (F.col("__c_end") == F.col("__vend"))
    )
    if extended_probes and match_mode == "exact":
        # the overlap-probe path compares through Ensembl's
        # get_matched_variant_alleles (both-trim-order minimization keyed on
        # coordinates) so a point existing variant matches INSIDE an MNV
        # window and repeat-shifted indels match their anchored twins
        # (reference compare_existing_variant via collect_overlapping_
        # candidates, variant_lookup_exec.rs:429-500; pinned by
        # compare_existing_variant_matches_point_existing_variant_within_mnv)
        allele_ok = allele_ok | match_alleles_ensembl_udf(
            F.col("ref"), F.col("alt"), F.col("start").cast("long"),
            F.col("__c_allele_string"), F.col("__c_start"),
        )

    if filter_op is None:
        from ..functions.coordinates import CoordinateNormalizer

        filter_op = CoordinateNormalizer.from_frames(vcf, cache).filter_op()
    if filter_op not in ("weak", "strict"):
        raise ValueError(f"filter_op must be 'weak' or 'strict', got {filter_op!r}")

    if chrom_normalize is None:
        chrom_normalize = _chrom_forms_differ(vcf, cache)
    chrom_eq = (
        _chrom_key(F.col("chrom")) == _chrom_key(F.col("__c_chrom"))
        if chrom_normalize
        else F.col("chrom") == F.col("__c_chrom")
    )
    if extended_probes:
        # VEP's variation-tabix visibility window: a candidate is exposed
        # only when its START falls inside ``[start-1, end+1]`` of the
        # probe's ACTIVE compare coordinates (min/max handles the
        # insertion start>end encoding) — the reference applies this
        # prefilter after candidate collection so LONG existing variants
        # that begin before the query window are never exposed to the
        # allele matcher (existing_start_is_visible_to_input_row,
        # variant_lookup_exec.rs:401-416 + existing_start_visibility_
        # matches_variation_tabix_query_window).  Visibility implies span
        # overlap, so this single predicate replaces the old overlap test.
        # strict (coordinate-system mismatch) shrinks the window by one
        # per side, the reference's FilterOp encoding.
        shrink = 0 if filter_op == "weak" else 1
        lo = F.least(F.col("__vstart") - 1, F.col("__vend") + 1)
        hi = F.greatest(F.col("__vstart") - 1, F.col("__vend") + 1)
        coord = (F.col("__c_start") >= lo + shrink) & (
            F.col("__c_start") <= hi - shrink
        )
    else:
        coord = (F.col("__c_start") == F.col("__vstart")) & (
            F.col("__c_end") == F.col("__vend")
        )

    # the memoized bounded row probe: every annotate_vep build re-asks it
    # for the same VCF plan (measured r11: 0.16 s per unmemoized job)
    from . import intervals

    fits = intervals._fits_broadcast(vcf, VCF_BROADCAST_GUARD_ROWS)
    # the allele UDF is a post-filter of the INNER probe join (Catalyst
    # pushes it under the join output)
    probe = F.broadcast(v) if fits else v
    hits = (
        probe.join(c, chrom_eq & coord, "inner")
        .filter(allele_ok)
        .select(
            "__vid",
            "__vep_alt",
            *[F.col(f"__c_{x}").alias(x) for x in columns],
            F.lit(True).alias("matched"),
        )
    )
    return v, hits, columns


#: Severity-ranked Sequence Ontology terms — single source of truth lives in
#: ``functions.consequence`` (reference so_terms.rs:5-299).
from ..functions.consequence import SO_RANK, SO_TERMS_BY_RANK  # noqa: E402,F401


def _so_rank_map() -> "F.Column":
    """term → 1-based severity rank as ONE parsed SQL literal: the
    equivalent ``map_from_arrays(array(lit...), ...)`` tree costs ~84 py4j
    round-trips per build (terms are fixed identifiers — no quoting
    hazard); this is a single ``F.expr`` call."""
    return F.expr(_so_rank_map_sql())


def _so_rank_map_sql() -> str:
    """SQL text of the term → rank map literal (for embedding in larger
    one-parse expressions)."""
    pairs = ", ".join(
        f"'{t}', {i + 1}" for i, (t, _) in enumerate(SO_TERMS_BY_RANK)
    )
    return f"map({pairs})"

# ---------------------------------------------------------------------------
# full VEP annotation layout (reference annotate_provider.rs:145-707:
# 42 transcript-level + 29 frequency + 9 variant-level + 7 cache-only
# columns, after CSQ + most_severe_consequence)
# ---------------------------------------------------------------------------

#: output name → variation-cache column (frequency category)
VEP_FREQUENCY_COLUMNS: list[tuple[str, str]] = [
    ("AF", "AF"), ("AFR_AF", "AFR"), ("AMR_AF", "AMR"), ("EAS_AF", "EAS"),
    ("EUR_AF", "EUR"), ("SAS_AF", "SAS"),
    ("gnomADe_AF", "gnomADe"), ("gnomADe_AFR_AF", "gnomADe_AFR"),
    ("gnomADe_AMR_AF", "gnomADe_AMR"), ("gnomADe_ASJ_AF", "gnomADe_ASJ"),
    ("gnomADe_EAS_AF", "gnomADe_EAS"), ("gnomADe_FIN_AF", "gnomADe_FIN"),
    ("gnomADe_MID_AF", "gnomADe_MID"), ("gnomADe_NFE_AF", "gnomADe_NFE"),
    ("gnomADe_REMAINING_AF", "gnomADe_REMAINING"), ("gnomADe_SAS_AF", "gnomADe_SAS"),
    ("gnomADg_AF", "gnomADg"), ("gnomADg_AFR_AF", "gnomADg_AFR"),
    ("gnomADg_AMI_AF", "gnomADg_AMI"), ("gnomADg_AMR_AF", "gnomADg_AMR"),
    ("gnomADg_ASJ_AF", "gnomADg_ASJ"), ("gnomADg_EAS_AF", "gnomADg_EAS"),
    ("gnomADg_FIN_AF", "gnomADg_FIN"), ("gnomADg_MID_AF", "gnomADg_MID"),
    ("gnomADg_NFE_AF", "gnomADg_NFE"), ("gnomADg_REMAINING_AF", "gnomADg_REMAINING"),
    ("gnomADg_SAS_AF", "gnomADg_SAS"),
]
#: transcript-level columns that require external data sources not modeled
#: here (MANE/UniProt/SIFT/PolyPhen models, …) — emitted as typed NULLs
VEP_NULL_TRANSCRIPT_COLUMNS: list[str] = [
    "FLAGS", "SYMBOL_SOURCE", "HGNC_ID", "MANE", "MANE_SELECT",
    "MANE_PLUS_CLINICAL", "TSL", "APPRIS", "CCDS", "ENSP", "SWISSPROT",
    "TREMBL", "UNIPARC", "UNIPROT_ISOFORM", "GENE_PHENO", "SIFT", "PolyPhen",
    "DOMAINS", "miRNA",
]
#: transcript-metadata passthrough: output column → transcripts-table
#: column (reference annotate_provider.rs transcript attribute columns);
#: emitted when the transcripts table carries the column, typed NULL
#: otherwise
VEP_TX_META_COLUMNS: list[tuple[str, str]] = [
    ("SYMBOL_SOURCE", "symbol_source"), ("HGNC_ID", "hgnc_id"),
    ("MANE", "mane"), ("MANE_SELECT", "mane_select"),
    ("MANE_PLUS_CLINICAL", "mane_plus_clinical"), ("TSL", "tsl"),
    ("APPRIS", "appris"), ("CCDS", "ccds"), ("ENSP", "ensp"),
    ("SWISSPROT", "swissprot"), ("TREMBL", "trembl"),
    ("UNIPARC", "uniparc"), ("UNIPROT_ISOFORM", "uniprot_isoform"),
    ("GENE_PHENO", "gene_pheno"),
]

#: variant-level columns sourced from publication/motif context tables.
#: The MOTIF_* / TRANSCRIPTION_FACTORS family is ALWAYS NULL in the
#: reference too ("currently not populated ... motif feature consequence
#: data that is not yet exposed", annotate_provider.rs:5097-5104) — NULL
#: here is exact parity, not a gap; the motif positional TERM
#: (TF_binding_site_variant) is computed by regulatory_features.
VEP_NULL_VARIANT_COLUMNS: list[str] = [
    "SOMATIC", "PHENO", "PUBMED", "MOTIF_NAME", "MOTIF_POS", "HIGH_INF_POS",
    "MOTIF_SCORE_CHANGE", "TRANSCRIPTION_FACTORS",
]
#: cache-only passthrough columns (annotate_provider.rs:630-707)
VEP_CACHE_ONLY_COLUMNS: list[str] = [
    "clin_sig_allele", "clinical_impact", "minor_allele", "minor_allele_freq",
    "clinvar_ids", "cosmic_ids", "dbsnp_ids",
]

#: Default-mode CSQ field order — 74 fields: 29 base + 12 Batch 1 + 33
#: Batch 3 (reference CSQ_FIELD_NAMES, golden_benchmark.rs:464-541, itself
#: VEP release/115 Constants.pm).  The codon engine's CSQ string emits one
#: full-width entry per transcript/feature in exactly this order; fields
#: the engine has no data source for render empty, like the reference on a
#: cache without that column.  (The refseq/merged cache modes splice
#: REFSEQ_MATCH..BAM_EDIT before VARIANT_CLASS — ``vep_csq_fields`` — and
#: ``csq_everything=True`` switches to the 80-field layout below.)
VEP_CSQ_FIELDS: list[str] = [
    "Allele", "Consequence", "IMPACT", "SYMBOL", "Gene", "Feature_type",
    "Feature", "BIOTYPE", "EXON", "INTRON", "HGVSc", "HGVSp",
    "cDNA_position", "CDS_position", "Protein_position", "Amino_acids",
    "Codons", "Existing_variation", "DISTANCE", "STRAND", "FLAGS",
    "SYMBOL_SOURCE", "HGNC_ID", "MOTIF_NAME", "MOTIF_POS", "HIGH_INF_POS",
    "MOTIF_SCORE_CHANGE", "TRANSCRIPTION_FACTORS", "SOURCE",
    "VARIANT_CLASS", "CANONICAL", "TSL", "MANE_SELECT",
    "MANE_PLUS_CLINICAL", "ENSP", "GENE_PHENO", "CCDS", "SWISSPROT",
    "TREMBL", "UNIPARC", "UNIPROT_ISOFORM",
    "AF", "AFR_AF", "AMR_AF", "EAS_AF", "EUR_AF", "SAS_AF",
    "gnomADe_AF", "gnomADe_AFR", "gnomADe_AMR", "gnomADe_ASJ",
    "gnomADe_EAS", "gnomADe_FIN", "gnomADe_MID", "gnomADe_NFE",
    "gnomADe_REMAINING", "gnomADe_SAS",
    "gnomADg_AF", "gnomADg_AFR", "gnomADg_AMI", "gnomADg_AMR",
    "gnomADg_ASJ", "gnomADg_EAS", "gnomADg_FIN", "gnomADg_MID",
    "gnomADg_NFE", "gnomADg_REMAINING", "gnomADg_SAS",
    "MAX_AF", "MAX_AF_POPS", "CLIN_SIG", "SOMATIC", "PHENO", "PUBMED",
]


#: cache columns holding GLOBAL allele frequencies — formatted/excluded
#: specially per the reference's AF_COLUMNS table (annotate_provider.rs:
#: 812-999): the global AF renders %.4f in CSQ (format_af_4f) and none of
#: the three participate in MAX_AF / MAX_AF_POPS (max_af_pop: None)
VEP_CSQ_GLOBAL_AF_COLS = ("AF", "gnomADe", "gnomADg")
#: gnomAD SUB-population frequencies are not emitted in individual CSQ
#: slots outside --everything (emit_in_csq: false) — they still feed MAX_AF
VEP_CSQ_SUPPRESSED_AF_COLS = tuple(
    c for _, c in VEP_FREQUENCY_COLUMNS
    if c.startswith("gnomAD") and c not in ("gnomADe", "gnomADg")
)


#: ``--everything`` CSQ field order — 80 fields (reference
#: CSQ_FIELD_NAMES_EVERYTHING, golden_benchmark.rs:543-640, itself VEP
#: release/115 Constants.pm).  Differences from the 74-field default:
#: SOURCE removed, VARIANT_CLASS moves up to follow FLAGS, generic MANE +
#: APPRIS/SIFT/PolyPhen/DOMAINS/miRNA/HGVS_OFFSET slots added, gnomAD
#: sub-population names gain an ``_AF`` suffix, and the MOTIF block moves
#: to the tail (positions 75-79).
VEP_CSQ_FIELDS_EVERYTHING: list[str] = [
    "Allele", "Consequence", "IMPACT", "SYMBOL", "Gene", "Feature_type",
    "Feature", "BIOTYPE", "EXON", "INTRON", "HGVSc", "HGVSp",
    "cDNA_position", "CDS_position", "Protein_position", "Amino_acids",
    "Codons", "Existing_variation", "DISTANCE", "STRAND", "FLAGS",
    "VARIANT_CLASS", "SYMBOL_SOURCE", "HGNC_ID", "CANONICAL", "MANE",
    "MANE_SELECT", "MANE_PLUS_CLINICAL", "TSL", "APPRIS", "CCDS", "ENSP",
    "SWISSPROT", "TREMBL", "UNIPARC", "UNIPROT_ISOFORM", "GENE_PHENO",
    "SIFT", "PolyPhen", "DOMAINS", "miRNA", "HGVS_OFFSET",
    "AF", "AFR_AF", "AMR_AF", "EAS_AF", "EUR_AF", "SAS_AF",
    "gnomADe_AF", "gnomADe_AFR_AF", "gnomADe_AMR_AF", "gnomADe_ASJ_AF",
    "gnomADe_EAS_AF", "gnomADe_FIN_AF", "gnomADe_MID_AF", "gnomADe_NFE_AF",
    "gnomADe_REMAINING_AF", "gnomADe_SAS_AF",
    "gnomADg_AF", "gnomADg_AFR_AF", "gnomADg_AMI_AF", "gnomADg_AMR_AF",
    "gnomADg_ASJ_AF", "gnomADg_EAS_AF", "gnomADg_FIN_AF", "gnomADg_MID_AF",
    "gnomADg_NFE_AF", "gnomADg_REMAINING_AF", "gnomADg_SAS_AF",
    "MAX_AF", "MAX_AF_POPS", "CLIN_SIG", "SOMATIC", "PHENO", "PUBMED",
    "MOTIF_NAME", "MOTIF_POS", "HIGH_INF_POS", "MOTIF_SCORE_CHANGE",
    "TRANSCRIPTION_FACTORS",
]

#: RefSeq provenance splices per cache source mode (refseq drops SOURCE,
#: merged keeps it among the five provenance fields)
_REFSEQ_SPLICE = ["REFSEQ_MATCH", "REFSEQ_OFFSET", "GIVEN_REF", "USED_REF", "BAM_EDIT"]
_MERGED_SPLICE = [
    "REFSEQ_MATCH", "SOURCE", "REFSEQ_OFFSET", "GIVEN_REF", "USED_REF", "BAM_EDIT",
]


def vep_csq_fields(mode: str = "ensembl", everything: bool = False) -> list[str]:
    """CSQ field order for a cache mode (reference csq_field_names_for_mode,
    golden_benchmark.rs:652-714).  Non-everything: the refseq cache mode
    replaces the SOURCE slot with the five RefSeq provenance fields; merged
    keeps SOURCE among them (78 / 79 fields).  ``everything=True`` switches
    to the 80-field ``--everything`` layout, where the refseq/merged splice
    lands just before GENE_PHENO (85 / 86 fields)."""
    if mode not in ("ensembl", "refseq", "merged"):
        raise ValueError(f"csq_mode must be ensembl|refseq|merged, got {mode!r}")
    if everything:
        fields = list(VEP_CSQ_FIELDS_EVERYTHING)
        i = fields.index("GENE_PHENO")
        if mode == "refseq":
            fields[i:i] = _REFSEQ_SPLICE
        elif mode == "merged":
            fields[i:i] = _MERGED_SPLICE
        return fields
    fields = list(VEP_CSQ_FIELDS)
    i = fields.index("SOURCE")
    if mode == "refseq":
        fields[i : i + 1] = _REFSEQ_SPLICE
    elif mode == "merged":
        fields[i : i + 1] = _MERGED_SPLICE
    return fields


def _vep_alt_expr() -> "F.Column":
    """VEP-minimized ALT allele (reference vcf_to_vep_allele,
    allele.rs:283-329): the writer renders THIS as the CSQ ``Allele``
    slot and keys frequency pair-strings on it — not the raw VCF alt
    (an anchored insertion C→CT minimizes to ``T``, a deletion to
    ``-``)."""
    from ..functions.alleles import vep_allele_udf

    return F.substring_index(
        vep_allele_udf(F.col("ref"), F.col("alt")), "/", -1
    )


# ---------------------------------------------------------------------------
# transcript selection (VEP --refseq/--merged/--gencode_basic/... filters)
# ---------------------------------------------------------------------------

#: RefSeq accession start: two uppercase letters, '_', a digit (reference
#: is_default_refseq_transcript_id, annotate_provider.rs:5715-5749)
_REFSEQ_ACCESSION_RE = r"^[A-Z]{2}_[0-9]"


def _opt_bool(v) -> bool:
    """JSON-ish boolean coercion for options values: real booleans/numbers
    use truthiness; STRINGS parse by content ("0"/"false"/"no"/"off"/"" are
    False) — ``bool("0")`` is True in Python, which would silently invert a
    quoted ``"shift_hgvs": "0"``.  Unrecognized strings raise."""
    if isinstance(v, str):
        low = v.strip().lower()
        if low in ("", "0", "false", "no", "off"):
            return False
        if low in ("1", "true", "yes", "on"):
            return True
        raise ValueError(f"expected a boolean option value, got {v!r}")
    return bool(v)


class TranscriptSelectionFlags:
    """VEP transcript-set selection switches (reference
    ``TranscriptSelectionFlags``, ``annotate_provider.rs:1224-1315``):
    which rows of the transcripts context table participate in
    annotation.  ``source_mode`` mirrors ``--refseq`` / ``--merged``
    (default: Ensembl-source transcripts only); ``gencode_basic`` /
    ``gencode_primary`` / ``all_refseq`` / ``exclude_predicted``
    replicate the corresponding VEP filters, with the reference's
    mutual-exclusion validation and error texts."""

    __slots__ = (
        "source_mode", "gencode_basic", "gencode_primary",
        "all_refseq", "exclude_predicted",
    )

    def __init__(
        self,
        source_mode: str = "ensembl",
        gencode_basic: bool = False,
        gencode_primary: bool = False,
        all_refseq: bool = False,
        exclude_predicted: bool = False,
    ) -> None:
        self.source_mode = source_mode
        self.gencode_basic = gencode_basic
        self.gencode_primary = gencode_primary
        self.all_refseq = all_refseq
        self.exclude_predicted = exclude_predicted

    @classmethod
    def from_options(cls, options=None) -> "TranscriptSelectionFlags":
        """Validate an options mapping (reference ``from_options_json``,
        ``annotate_provider.rs:1232-1296`` — same rejected combinations,
        same messages)."""
        if options is None:
            options = {}
        if isinstance(options, TranscriptSelectionFlags):
            return options
        get = lambda k: _opt_bool(options.get(k, False))  # noqa: E731
        refseq, merged = get("refseq"), get("merged")
        gencode_basic, gencode_primary = get("gencode_basic"), get("gencode_primary")
        all_refseq, exclude_predicted = get("all_refseq"), get("exclude_predicted")
        if refseq and merged:
            raise ValueError(
                "annotate_vep(): --refseq and --merged are mutually exclusive"
            )
        if refseq and gencode_basic:
            raise ValueError(
                "annotate_vep(): --refseq and --gencode_basic are mutually exclusive"
            )
        if refseq and gencode_primary:
            raise ValueError(
                "annotate_vep(): --refseq and --gencode_primary are mutually exclusive"
            )
        if gencode_basic and gencode_primary:
            raise ValueError(
                "annotate_vep(): --gencode_basic and --gencode_primary "
                "are mutually exclusive"
            )
        source_mode = "merged" if merged else ("refseq" if refseq else "ensembl")
        if source_mode == "ensembl" and all_refseq:
            raise ValueError(
                "annotate_vep(): --all_refseq requires --refseq or --merged"
            )
        if source_mode == "ensembl" and exclude_predicted:
            raise ValueError(
                "annotate_vep(): --exclude_predicted requires --refseq or --merged"
            )
        return cls(
            source_mode, gencode_basic, gencode_primary,
            all_refseq, exclude_predicted,
        )


class HgvsFlags:
    """HGVS emission switches (reference ``HgvsFlags``,
    ``annotate_provider.rs:1176-1212``; Ensembl VEP Config.pm):
    ``everything``/``hgvs`` imply ``hgvsc``+``hgvsp``; ``no_escape`` /
    ``remove_hgvsp_version`` / ``hgvsp_use_prediction`` shape the
    output-time HGVSp transform (``format_hgvsp_output``).  The pipeline
    DEFAULT (``annotate_vep(hgvs_options=None)``) is hgvsc+hgvsp on —
    i.e. a reference run with ``--hgvs`` — because this engine derives
    HGVS from the transcript CDS model rather than a FASTA, so there is
    no FASTA prerequisite to gate on."""

    __slots__ = ("hgvsc", "hgvsp", "shift_hgvs", "no_escape",
                 "remove_hgvsp_version", "hgvsp_use_prediction")

    def __init__(
        self,
        hgvsc: bool = True,
        hgvsp: bool = True,
        shift_hgvs: bool | None = None,
        no_escape: bool = False,
        remove_hgvsp_version: bool = False,
        hgvsp_use_prediction: bool = False,
    ) -> None:
        self.hgvsc = hgvsc
        self.hgvsp = hgvsp
        # reference default: shifting follows the HGVS switches unless the
        # option is set explicitly (HgvsFlags.from_options_json,
        # annotate_provider.rs:1197-1200 — unwrap_or(hgvsc || hgvsp))
        self.shift_hgvs = (hgvsc or hgvsp) if shift_hgvs is None else bool(shift_hgvs)
        self.no_escape = no_escape
        self.remove_hgvsp_version = remove_hgvsp_version
        self.hgvsp_use_prediction = hgvsp_use_prediction

    @classmethod
    def from_options(cls, options=None) -> "HgvsFlags":
        if options is None:
            return cls()
        if isinstance(options, HgvsFlags):
            return options
        get = lambda k: _opt_bool(options.get(k, False))  # noqa: E731
        hgvs = get("everything") or get("hgvs")
        return cls(
            hgvsc=hgvs or get("hgvsc"),
            hgvsp=hgvs or get("hgvsp"),
            shift_hgvs=(
                _opt_bool(options["shift_hgvs"]) if "shift_hgvs" in options else None
            ),
            no_escape=get("no_escape"),
            remove_hgvsp_version=get("remove_hgvsp_version"),
            hgvsp_use_prediction=get("hgvsp_use_prediction"),
        )


#: memoized contig-prefix form sets, keyed like the interval-probe memos
#: (semantic plan hash + input-file fingerprint)
_CHROM_FORM_MEMO = ProbeMemo()


def _chrom_forms(df: DataFrame) -> frozenset:
    """EXACT contig-prefix form set of a frame: a distinct aggregate over
    the boolean ``chr``-prefix flag — one column-pruned pass with partial
    (map-side) aggregation, the same discovery scan the reference's
    ``discover_vcf_contigs`` runs (``annotate_provider.rs:3640-3650``).
    Exact matters: a frame MIXING chr-prefixed and bare contigs (chr1..22
    plus a bare ``MT``) must still trigger key normalization — a row-limit
    sample can miss the minority form and is partition-order dependent.
    Memoized by semantic plan key so repeated pipeline builds over the
    same frame pay once."""

    def probe() -> frozenset:
        rows = (
            df.select(
                F.col("chrom").cast("string").startswith("chr").alias("f")
            )
            .filter(F.col("f").isNotNull())
            .distinct()
            .limit(3)
            .collect()
        )
        return frozenset(bool(r.f) for r in rows)

    return _CHROM_FORM_MEMO.get_or_probe(lambda: plan_key(df), probe)


def _chrom_forms_differ(a: DataFrame, b: DataFrame) -> bool:
    """Do two frames disagree on the ``chr`` contig-name prefix?  The
    reference strips ``chr`` at every row-level chrom comparison
    (``annotate_provider.rs:4002,4128``) so a ``chr1`` VCF annotates
    against a ``1`` cache; Spark-side we keep the raw equi-key
    (partition-pruning friendly) when both sides use one uniform form and
    switch to a normalized key otherwise.  Probe the CHEAPEST frame that
    carries each side's chrom values — the base tables, not derived
    joins."""
    return len(_chrom_forms(a) | _chrom_forms(b)) > 1


def _chrom_key(col: "F.Column") -> "F.Column":
    """Row-level contig key with the ``chr`` prefix stripped (reference
    ``normalize_chrom``/``strip_prefix("chr")``)."""
    return F.regexp_replace(col.cast("string"), "^chr", "")


def _af_flag_group(output_name: str) -> int:
    """AF flag group of a frequency output column (reference AF_COLUMNS
    ``flag_group``, annotate_provider.rs:811-999): 0 = global AF (--af),
    1 = 1000-genomes continental (--af_1kg), 2 = gnomAD exomes
    (--af_gnomade), 3 = gnomAD genomes (--af_gnomadg)."""
    if output_name == "AF":
        return 0
    if output_name.startswith("gnomADe"):
        return 2
    if output_name.startswith("gnomADg"):
        return 3
    return 1


class VepFlags:
    """Colocated-variant emission switches (reference ``VepFlags``,
    ``annotate_provider.rs:1110-1162``; VEP Config.pm): ``check_existing``
    gates the whole colocated block (Existing_variation / CLIN_SIG /
    frequencies), the four ``af*`` switches gate their AF_COLUMNS flag
    groups, ``max_af`` the MAX_AF/MAX_AF_POPS pair.  Implication rules
    replicate the reference: ``everything`` turns on every sub-flag, and
    any AF flag implies ``check_existing``.  The pipeline DEFAULT
    (``annotate_vep(vep_options=None)``) is all-enabled — the engine's
    historical permissive mode; pass a mapping (``{}`` for the
    reference's raw all-off defaults) for reference semantics."""

    __slots__ = ("check_existing", "af", "af_1kg", "af_gnomade",
                 "af_gnomadg", "max_af", "pubmed", "everything")

    def __init__(
        self,
        check_existing: bool = True,
        af: bool = True,
        af_1kg: bool = True,
        af_gnomade: bool = True,
        af_gnomadg: bool = True,
        max_af: bool = True,
        pubmed: bool = True,
        everything: bool = False,
    ) -> None:
        self.check_existing = check_existing
        self.af = af
        self.af_1kg = af_1kg
        self.af_gnomade = af_gnomade
        self.af_gnomadg = af_gnomadg
        self.max_af = max_af
        self.pubmed = pubmed
        # retained: the reference un-suppresses gnomAD sub-pop CSQ slots on
        # emit_in_csq || flags.everything (annotate_provider.rs:1837)
        self.everything = everything

    @classmethod
    def from_options(cls, options=None) -> "VepFlags":
        if options is None:
            return cls()
        if isinstance(options, VepFlags):
            return options
        get = lambda k: _opt_bool(options.get(k, False))  # noqa: E731
        everything = get("everything")
        af = everything or get("af")
        af_1kg = everything or get("af_1kg")
        af_gnomade = everything or get("af_gnomade")
        af_gnomadg = everything or get("af_gnomadg")
        max_af = everything or get("max_af")
        pubmed = everything or get("pubmed")
        check_existing = (
            get("check_existing") or af or af_1kg or af_gnomade
            or af_gnomadg or max_af or pubmed
        )
        return cls(check_existing, af, af_1kg, af_gnomade, af_gnomadg,
                   max_af, pubmed, everything)

    def af_group_enabled(self, group: int) -> bool:
        return (self.af, self.af_1kg, self.af_gnomade, self.af_gnomadg)[group]


def transcript_selection_predicate(
    flags: TranscriptSelectionFlags, columns: Sequence[str]
) -> "F.Column":
    """Row predicate over the transcripts table (reference
    ``passes_transcript_selection``, ``annotate_provider.rs:5751-5783`` and
    its source predicates ``:5642-5749``), as a Catalyst expression so the
    filter evaluates inside the scan, pushes down to parquet where
    possible, and shrinks the broadcast transcript side before the
    variant×transcript pairing.  Optional columns (``source``,
    ``display_xref_id``, ``is_gencode_basic``, ``is_gencode_primary``)
    degrade to the reference struct's defaults (NULL / false) when the
    table does not carry them."""
    tid = F.col("transcript_id")
    has = lambda c: c in columns  # noqa: E731
    src = F.col("source").cast("string") if has("source") else F.lit(None).cast("string")
    is_ensembl = F.coalesce(src == "Ensembl", F.lit(False)) | tid.startswith("ENST")
    is_refseq = F.coalesce(src == "RefSeq", F.lit(False)) | F.substring(
        tid, 1, 2
    ).isin("NM", "NR", "XM", "XR")
    is_predicted = tid.startswith("XM_") | tid.startswith("XR_")

    # is_default_refseq_transcript_id (:5715): accession-shaped id, or a
    # mitochondrial stable id, or an accession/MT-shaped display xref
    acc = tid.rlike(_REFSEQ_ACCESSION_RE)
    chrom = (
        F.regexp_replace(F.col("chrom").cast("string"), "^chr", "")
        if has("chrom")
        else F.lit(None).cast("string")
    )
    is_mt = F.coalesce(chrom.isin("M", "MT", "m", "mt"), F.lit(False))
    stripped = F.regexp_replace(tid, "^rna-", "")
    mt_stable = tid.rlike(r"^[0-9]{4}$") | stripped.rlike(r"^[A-Z0-9]{3,}$")
    dx = (
        F.col("display_xref_id").cast("string")
        if has("display_xref_id")
        else F.lit(None).cast("string")
    )
    dx_ok = F.coalesce(
        dx.rlike(_REFSEQ_ACCESSION_RE) | dx.rlike(r"^[0-9]{4}$"), F.lit(False)
    )
    default_refseq_id = acc | (is_mt & mt_stable) | dx_ok

    refseq_kept = F.lit(flags.all_refseq) | default_refseq_id
    if flags.source_mode == "refseq":
        source_ok = is_refseq & refseq_kept
    elif flags.source_mode == "merged":
        source_ok = F.when(is_refseq, refseq_kept).otherwise(is_ensembl)
    else:
        source_ok = is_ensembl

    pred = tid.isNotNull() & (tid != "")
    if flags.gencode_basic:
        gb = (
            F.col("is_gencode_basic").cast("boolean")
            if has("is_gencode_basic")
            else F.lit(False)
        )
        pred = pred & F.coalesce(gb, F.lit(False))
    if flags.gencode_primary:
        gp = (
            F.col("is_gencode_primary").cast("boolean")
            if has("is_gencode_primary")
            else F.lit(False)
        )
        pred = pred & F.coalesce(gp, F.lit(False))
    if flags.exclude_predicted:
        pred = pred & ~is_predicted
    return F.coalesce(pred & source_ok, F.lit(False))


def passes_transcript_selection(tx, flags: TranscriptSelectionFlags) -> bool:
    """Scalar twin of :func:`transcript_selection_predicate` (kept adjacent
    so the two cannot drift) — mirrors the reference row function
    ``passes_transcript_selection`` for direct battery replay.  ``tx`` is a
    mapping with the transcript columns (missing keys = struct defaults)."""
    tid = tx.get("transcript_id") or ""
    if not tid:
        return False
    if flags.gencode_basic and not tx.get("is_gencode_basic", False):
        return False
    if flags.gencode_primary and not tx.get("is_gencode_primary", False):
        return False
    is_predicted = tid.startswith("XM_") or tid.startswith("XR_")
    if flags.exclude_predicted and is_predicted:
        return False
    src = tx.get("source")
    is_ensembl = src == "Ensembl" or tid.startswith("ENST")
    is_refseq = src == "RefSeq" or tid[:2] in ("NM", "NR", "XM", "XR")

    def _default_refseq_id() -> bool:
        import re

        if re.match(_REFSEQ_ACCESSION_RE, tid):
            return True
        chrom = (tx.get("chrom") or "").removeprefix("chr")
        if chrom in ("M", "MT", "m", "mt"):
            stripped = tid.removeprefix("rna-")
            if re.fullmatch(r"[0-9]{4}", tid) or re.fullmatch(
                r"[A-Z0-9]{3,}", stripped
            ):
                return True
        dx = tx.get("display_xref_id")
        return bool(
            dx
            and (re.match(_REFSEQ_ACCESSION_RE, dx) or re.fullmatch(r"[0-9]{4}", dx))
        )

    if flags.source_mode == "refseq":
        return is_refseq and (flags.all_refseq or _default_refseq_id())
    if flags.source_mode == "merged":
        if is_refseq:
            return flags.all_refseq or _default_refseq_id()
        return is_ensembl
    return is_ensembl


def resolve_engine(engine: str, transcripts) -> str:
    """annotate_vep's auto-engine rule, shared with the VCF sink so the
    two can never drift: 'auto' becomes 'codon' when a transcripts table
    is given, else 'positional'."""
    if engine == "auto":
        return "codon" if transcripts is not None else "positional"
    return engine


def resolve_csq_mode(csq_mode: str, transcript_selection) -> str:
    """annotate_vep's selection-derived CSQ mode rule, shared with the
    VCF sink: a refseq/merged transcript selection with the default
    csq_mode selects the matching provenance layout."""
    if csq_mode == "ensembl" and transcript_selection is not None:
        sm = TranscriptSelectionFlags.from_options(transcript_selection).source_mode
        if sm != "ensembl":
            return sm
    return csq_mode


def annotate_vep(
    vcf: DataFrame,
    cache: DataFrame,
    transcripts: DataFrame | None = None,
    exons: DataFrame | None = None,
    match_mode: str = "exact",
    extended_probes: bool = False,
    upstream_distance: int = 5000,
    downstream_distance: int = 5000,
    engine: str = "auto",
    full_schema: bool = False,
    regulatory: DataFrame | None = None,
    motifs: DataFrame | None = None,
    structural: DataFrame | None = None,
    mirnas: DataFrame | None = None,
    translations: DataFrame | None = None,
    sift: DataFrame | None = None,
    domains: DataFrame | None = None,
    csq_mode: str = "ensembl",
    csq_everything: bool = False,
    transcript_selection=None,
    hgvs_options=None,
    vep_options=None,
    allowed_failed: int = 0,
    seqless_positions: str = "reference",
    reference_genome=None,
) -> DataFrame:
    """Annotation pipeline: known-variant lookup + consequence assignment.

    ``reference_genome`` (codon engine): genomic sequence access for the
    HGVS 3'-shift — the reference REQUIRES a FASTA whenever HGVS output is
    on (``validate_hgvs_reference_fasta``, ``annotate_provider.rs``
    Runner::post_setup_checks) and builds per-indel forward/reverse shift
    state from it (``hgvs.rs build_hgvs_genomic_shift``).  Accepts a
    ``{chrom: sequence}`` mapping (small genomes / test contigs —
    broadcast to executors) or a picklable ``fetch(chrom, start, end) ->
    str`` callable (indexed-FASTA access opened lazily per executor — the
    100 TB path; 1-based inclusive coordinates).  ``None`` (default) keeps
    the historical shift-less degradation: HGVS emits unshifted, exactly
    like this pipeline always has (the reference would refuse to run).

    ``seqless_positions``: CDS/protein position policy for transcripts
    WITHOUT a cached CDS sequence — ``'reference'`` (default) emits None
    like the reference engine (positions require a successful coding
    classification); ``'geometric'`` emits exon-geometry positions (this
    engine's historical superset; the gate oracles pin it explicitly).
    See functions.consequence.annotation_details.

    ``vep_options`` (codon engine): a mapping of VEP colocated-variant
    switches ``{'check_existing'/'af'/'af_1kg'/'af_gnomade'/'af_gnomadg'/
    'max_af'/'pubmed'/'everything': bool}`` (reference ``VepFlags``,
    ``annotate_provider.rs:1110-1162``).  ``None`` (default) enables
    everything — the engine's historical permissive mode; an explicit
    mapping replicates the reference's raw defaults (``{}`` disables the
    whole colocated block, like a reference call without flags; any AF
    flag implies ``check_existing`` per VEP).

    ``hgvs_options`` (codon engine): a mapping of VEP HGVS switches
    ``{'hgvs'/'hgvsc'/'hgvsp'/'everything': bool, 'no_escape': bool,
    'remove_hgvsp_version': bool, 'hgvsp_use_prediction': bool}``
    (reference ``HgvsFlags.from_options_json``,
    ``annotate_provider.rs:1186-1208``).  ``None`` (default) behaves as
    a reference run with ``--hgvs``: both HGVSc and HGVSp emit.  An
    explicit mapping replicates the reference's raw defaults — pass
    ``{}`` to suppress HGVS output entirely, like a reference call
    without HGVS flags.  HGVSp values pass through the output-time
    transform (``format_hgvsp_output``, ``annotate_provider.rs:
    2418-2449``): translation-version strip, prediction-format parens,
    and the DEFAULT ``=`` → ``%3D`` escape for VCF INFO safety.

    ``transcript_selection`` (codon engine): a mapping of VEP
    transcript-set switches ``{'refseq': bool, 'merged': bool,
    'gencode_basic': bool, 'gencode_primary': bool, 'all_refseq': bool,
    'exclude_predicted': bool}`` (or a prebuilt
    :class:`TranscriptSelectionFlags`) — reference
    ``TranscriptSelectionFlags.from_options_json``
    (``annotate_provider.rs:1232-1296``) + ``passes_transcript_selection``
    (``:5751-5783``).  The filter is a Catalyst predicate on the
    transcripts table, so it prunes before the broadcast pairing.  When
    ``csq_mode`` is left at its default, the refseq/merged source mode
    also selects the matching CSQ provenance layout (reference
    ``refseq_fields()`` / ``source_field()``).

    ``csq_mode`` (codon engine): the CSQ string layout for the cache
    source mode — ``'ensembl'`` (74 fields, default), ``'refseq'``
    (REFSEQ_MATCH/REFSEQ_OFFSET/GIVEN_REF/USED_REF/BAM_EDIT replace the
    SOURCE slot, 78 fields) or ``'merged'`` (SOURCE kept among them, 79
    fields) — reference ``csq_field_names_for_mode`` and the per-mode
    writer arms (``annotate_provider.rs:4444-4475``).

    ``csq_everything=True`` (codon engine): VEP ``--everything`` — the
    80-field CSQ layout (reference ``CSQ_FIELD_NAMES_EVERYTHING``,
    ``golden_benchmark.rs:543-640``, writer arm
    ``annotate_provider.rs:4318-4455``): VARIANT_CLASS follows FLAGS, a
    generic MANE slot is derived from MANE_SELECT / MANE_PLUS_CLINICAL,
    APPRIS / per-entry SIFT / PolyPhen / DOMAINS / miRNA / HGVS_OFFSET
    slots are filled, gnomAD sub-population frequencies are UN-suppressed
    (reference ``emit_in_csq || flags.everything``,
    ``annotate_provider.rs:1837``), and the MOTIF block moves to the
    trailing five slots.  Combines with ``csq_mode``: the refseq/merged
    provenance splice lands before GENE_PHENO (85 / 86 fields).
    HGVS_OFFSET renders empty — the genomic 3'-shift hash it mirrors is
    FASTA-derived (``hgvs.rs:326-345``) and this pipeline runs without a
    reference FASTA, the same degradation as a reference run without one.

    ``sift`` (codon engine, ``full_schema=True``): per-substitution
    protein-function predictions ``(transcript_id, protein_position,
    alt_aa [, sift_prediction, sift_score, polyphen_prediction,
    polyphen_score])`` — the relational form of the reference's SIFT/
    PolyPhen prediction matrices (``annotate_provider.rs:2099-2176``,
    ``translations_sift_table`` option).  Single-amino-acid substitutions
    of the best transcript fill the ``SIFT`` / ``PolyPhen`` columns as
    ``prediction(score)``; everything else stays NULL like VEP.

    ``regulatory`` / ``motifs`` / ``structural`` / ``mirnas`` (codon
    engine): the reference's context-feature arms (``annotate_provider.rs``
    regulatory / motif / structural / mirna tables).  Overlapped features
    contribute their own CSQ entries and participate in the
    ``most_severe_consequence`` rollup; a variant with only feature hits
    additionally carries the intergenic entry, exactly like the
    reference's no-transcript-hit fallback
    (``transcript_consequence.rs:1115-1123``).

    ``translations`` (codon engine): the reference's separate
    ``translation_core`` context table ``(transcript_id, cds_sequence
    [, cds_len, translation_seq])`` (``annotate_provider.rs:2961-3050``) —
    supplies the spliced CDS sequence when the transcripts table does not
    carry it inline, upgrading indels/SNVs from positional heuristics to
    codon-accurate classification.

    ``full_schema=True`` (codon engine only) emits the reference's complete
    93-column annotation layout (``annotate_provider.rs:145-720``): the
    transcript-level columns computed by the consequence engine, frequency /
    cache-only columns passed through from the variation cache when present
    (typed NULLs otherwise), and MAX_AF/MAX_AF_POPS derived from whatever
    frequency columns the cache carries.

    ``engine='positional'`` (or no ``transcripts``): phase-A coarse classes
    (inside transcript / up / downstream).  ``engine='codon'`` (default via
    ``'auto'`` when ``transcripts`` is given): the phase-B transcript
    consequence engine (``functions.consequence``; reference
    ``transcript_consequence.rs:801-1124``) — splice windows, UTR/intron,
    codon-accurate SNV effects, frameshift/inframe indels, HGVS g./c./p. —
    evaluated per (variant, transcript) pair inside an Arrow-batched pandas
    UDF; the variant×transcript pairing itself is a broadcast interval join
    so the hot path stays JVM-side.

    ``transcripts`` columns: ``transcript_id chrom start end strand biotype
    gene_stable_id gene_symbol`` + optional ``cds_start cds_end
    cds_sequence`` (reference context contract
    ``annotate_provider.rs:2511-2563``).  ``exons``: ``transcript_id start
    end`` (``annotate_provider.rs:2893-2899``); omitted → single-exon model.

    Output: VCF columns + ``CSQ`` (comma-joined per-transcript entries
    ``Allele|Consequence|IMPACT|SYMBOL|Gene|Feature|HGVSc|HGVSp``) +
    ``most_severe_consequence`` + ``existing_variation``; one row per
    (VCF row, matching cache record), a VCF row without a match once.

    ``vcf`` is read more than once (the cache lookup, the transcript
    pairing, each context-feature arm), and the reads are matched on a
    ``monotonically_increasing_id`` row id: every read must return the
    same rows in the same partitions and order.  A file scan does; a frame
    whose plan ends in a shuffle (a join, an aggregate, a ``distinct``)
    may not, and should be written out or checkpointed first.
    """
    engine = resolve_engine(engine, transcripts)
    if engine == "codon":
        if transcripts is None:
            raise ValueError("engine='codon' requires a transcripts DataFrame")
        if transcript_selection is not None:
            flags = TranscriptSelectionFlags.from_options(transcript_selection)
            transcripts = transcripts.filter(
                transcript_selection_predicate(flags, transcripts.columns)
            )
            csq_mode = resolve_csq_mode(csq_mode, transcript_selection)
        if "hgnc_id_native" in transcripts.columns:
            # the reference propagates gene symbol/HGNC ids across the
            # buffer-local transcript set before the engine runs
            # (apply_buffer_local_hgnc_propagation) — region-scoped here
            transcripts = propagate_gene_hgnc(transcripts)
        rows, hits, columns = _lookup(
            vcf, cache, match_mode=match_mode, extended_probes=extended_probes,
            allowed_failed=allowed_failed,
        )
        vep_csq_fields(csq_mode, csq_everything)  # validate early
        return _annotate_codon(
            rows, hits, columns, vcf.columns, transcripts, exons, upstream_distance,
            downstream_distance, full_schema,
            regulatory=regulatory, motifs=motifs, structural=structural,
            mirnas=mirnas, translations=translations, sift=sift,
            domains=domains, csq_mode=csq_mode, csq_everything=csq_everything,
            hgvs_flags=HgvsFlags.from_options(hgvs_options),
            vep_flags=VepFlags.from_options(vep_options),
            vcf_chrom_forms=_chrom_forms(vcf),
            seqless_positions=seqless_positions,
            reference_genome=reference_genome,
        )
    if any(
        x is not None
        for x in (regulatory, motifs, structural, mirnas, translations, sift, domains)
    ):
        raise ValueError(
            "regulatory/motifs/structural/mirnas/translations/sift/domains "
            "context requires the codon engine"
        )
    if full_schema:
        raise ValueError("full_schema=True requires the codon engine (transcripts)")
    if csq_mode != "ensembl" or csq_everything:
        raise ValueError(
            "csq_mode/csq_everything require the codon engine (transcripts)"
        )
    if (
        transcript_selection is not None
        or hgvs_options is not None
        or vep_options is not None
    ):
        raise ValueError(
            "transcript_selection/hgvs_options/vep_options require the "
            "codon engine (transcripts)"
        )
    if engine != "positional":
        raise ValueError(f"engine must be 'auto', 'codon' or 'positional', got {engine!r}")
    rows, hits, columns = _lookup(
        vcf, cache, match_mode=match_mode, extended_probes=extended_probes,
        allowed_failed=allowed_failed,
    )
    vcf_cols = list(vcf.columns)

    if transcripts is not None:
        t = transcripts.select(
            F.col("chrom").alias("__t_chrom"),
            F.col("start").cast("long").alias("__t_start"),
            F.col("end").cast("long").alias("__t_end"),
            F.col("strand").cast("int").alias("__t_strand"),
            F.col("biotype").alias("__t_biotype"),
            (
                F.col("gene_stable_id")
                if "gene_stable_id" in transcripts.columns
                else F.lit("")
            ).alias("__t_gene"),
            (
                F.col("gene_symbol")
                if "gene_symbol" in transcripts.columns
                else F.lit("")
            ).alias("__t_symbol"),
        )
        up, down = upstream_distance, downstream_distance
        pos = F.col("start").cast("long")
        # coarse positional classes (phase A): inside transcript vs up/downstream
        inside = (pos >= F.col("__t_start")) & (pos <= F.col("__t_end"))
        upstream = F.when(
            F.col("__t_strand") >= 0,
            (pos < F.col("__t_start")) & (pos >= F.col("__t_start") - up),
        ).otherwise((pos > F.col("__t_end")) & (pos <= F.col("__t_end") + up))
        downstream = F.when(
            F.col("__t_strand") >= 0,
            (pos > F.col("__t_end")) & (pos <= F.col("__t_end") + down),
        ).otherwise((pos < F.col("__t_start")) & (pos >= F.col("__t_start") - down))
        _t_chrom_eq = (
            _chrom_key(F.col("chrom")) == _chrom_key(F.col("__t_chrom"))
            if _chrom_forms_differ(vcf, transcripts)
            else F.col("chrom") == F.col("__t_chrom")
        )
        near = rows.select("__vid", *vcf_cols).join(
            F.broadcast(t),
            _t_chrom_eq & (inside | upstream | downstream),
            "left",
        )
        consequence = (
            F.when(inside & (F.col("__t_biotype") == "protein_coding"), "coding_transcript_variant")
            .when(inside, "non_coding_transcript_variant")
            .when(upstream, "upstream_gene_variant")
            .when(downstream, "downstream_gene_variant")
            .otherwise("intergenic_variant")
        )
        near = near.withColumn(
            "consequence",
            F.when(F.col("__t_chrom").isNull(), "intergenic_variant").otherwise(consequence),
        )
        near = near.withColumn("__rank", _so_rank_map()[F.col("consequence")])
        # one rollup per VCF row (keyed on its id, so identical VCF lines
        # stay two rows), then one output row per matching cache record
        per_variant = near.groupBy("__vid").agg(
            F.first(F.struct(*vcf_cols)).alias("__vrow"),
            F.min_by("consequence", "__rank").alias("most_severe_consequence"),
            F.array_sort(F.collect_set("consequence")).alias("__all_csq"),
            F.array_sort(F.collect_set("__t_symbol")).alias("__symbols"),
            F.array_sort(F.collect_set("__t_gene")).alias("__genes"),
        ).select("__vid", "__vrow.*", "most_severe_consequence", "__all_csq",
                 "__symbols", "__genes")
        hit_lists = hits.groupBy("__vid").agg(
            F.collect_list(F.struct(*columns)).alias("__hits")
        )
        grouped = _attach_hits(per_variant, hit_lists)
    else:
        grouped = rows.join(hits, "__vid", "left").withColumn(
            "matched", F.coalesce(F.col("matched"), F.lit(False))
        ).withColumn(
            "most_severe_consequence",
            F.when(F.col("matched"), "sequence_variant").otherwise(F.lit(None)),
        ).withColumn("__all_csq", F.array(F.col("most_severe_consequence"))).withColumn(
            "__symbols", F.array().cast("array<string>")
        ).withColumn("__genes", F.array().cast("array<string>"))

    out = grouped.withColumn(
        "existing_variation", F.coalesce(F.col("variation_name"), F.lit(""))
    ).withColumn(
        "CSQ",
        F.concat_ws(
            "|",
            F.col("alt"),
            F.concat_ws("&", F.col("__all_csq")),
            F.col("existing_variation"),
            F.concat_ws("&", F.col("__symbols")),
            F.concat_ws("&", F.col("__genes")),
        ),
    )
    return out.select(
        *vcf_cols, *columns, "matched", "most_severe_consequence",
        "existing_variation", "CSQ",
    )


def _attach_hits(per_variant: DataFrame, hit_lists: DataFrame) -> DataFrame:
    """One row per (VCF row, matching cache record): ``per_variant`` (one
    row per ``__vid``) joined on the id to the ``__hits`` list of structs
    in ``hit_lists`` and exploded into the structs' fields + ``matched``.
    A VCF row without a match keeps one row, with NULL fields and
    ``matched`` false."""
    return (
        per_variant.join(hit_lists, "__vid", "left")
        .withColumn("__hit", F.explode_outer("__hits"))
        .select("*", "__hit.*", F.col("__hit").isNotNull().alias("matched"))
        .drop("__hits", "__hit")
    )


# ---------------------------------------------------------------------------
# phase B: codon-level consequence engine
# ---------------------------------------------------------------------------


def _tx_meta_map(t: DataFrame) -> "F.Column":
    """MAP of transcript-metadata output columns present on the transcripts
    table (VEP_TX_META_COLUMNS), plus FLAGS assembled from the
    cds_start_nf/cds_end_nf booleans (reference flags_str_from_bools,
    annotate_provider.rs:5360-5375) and CANONICAL from is_canonical."""
    entries: list[tuple[str, str]] = []
    for out_name, col in VEP_TX_META_COLUMNS:
        if col in t.columns:
            v = f"cast(`{col}` as string)"
            if out_name == "APPRIS":
                # reference format_appris: principalN -> PN, alternativeN
                # -> AN, else passthrough (all-occurrence replace, like the
                # reference's str::replace — the SQL twin of
                # functions.consequence.format_appris)
                v = f"replace(replace({v}, 'principal', 'P'), 'alternative', 'A')"
            entries.append((out_name, v))
    if "cds_start_nf" in t.columns or "cds_end_nf" in t.columns:
        nf_s = (
            "(case when cast(cds_start_nf as boolean) then 'cds_start_NF' end)"
            if "cds_start_nf" in t.columns
            else "cast(null as string)"
        )
        nf_e = (
            "(case when cast(cds_end_nf as boolean) then 'cds_end_NF' end)"
            if "cds_end_nf" in t.columns
            else "cast(null as string)"
        )
        entries.append(("FLAGS", f"nullif(concat_ws('&', {nf_s}, {nf_e}), '')"))
    if "is_canonical" in t.columns:
        entries.append(
            ("CANONICAL", "(case when cast(is_canonical as boolean) then 'YES' end)")
        )
    if not entries:
        return F.expr("cast(null as map<string,string>)")
    # ONE parse instead of ~4 Column round trips per present meta column
    keys = ", ".join(f"'{k}'" for k, _ in entries)
    vals = ", ".join(v for _, v in entries)
    return F.expr(f"map_from_arrays(array({keys}), array({vals}))")


def _annotate_codon(
    rows: DataFrame,
    hits: DataFrame,
    columns: Sequence[str],
    vcf_cols: Sequence[str],
    transcripts: DataFrame,
    exons: DataFrame | None,
    upstream_distance: int,
    downstream_distance: int,
    full_schema: bool = False,
    regulatory: DataFrame | None = None,
    motifs: DataFrame | None = None,
    structural: DataFrame | None = None,
    mirnas: DataFrame | None = None,
    translations: DataFrame | None = None,
    sift: DataFrame | None = None,
    domains: DataFrame | None = None,
    csq_mode: str = "ensembl",
    csq_everything: bool = False,
    hgvs_flags: "HgvsFlags | None" = None,
    vep_flags: "VepFlags | None" = None,
    vcf_chrom_forms: "frozenset | None" = None,
    seqless_positions: str = "reference",
    reference_genome=None,
) -> DataFrame:
    """The codon engine over :func:`_lookup`'s ``rows`` and ``hits``.

    Every per-variant frame is keyed on the VCF row id ``__vid``:

    * the VCF rows, spread on the id, pair with the transcripts (broadcast
      range join on chrom) and each pair is classified through
      ``functions.consequence.classify`` in one Arrow-batched pandas UDF;
    * the context-feature arms add their entries per id;
    * ONE rollup per id builds the CSQ entries and the most-severe
      transcript, and carries the VCF row itself (without feature arms the
      VCF is read by the pairing and by the lookup probe only);
    * the colocated-cache aggregate groups ``hits`` per id and keeps each
      hit's fields in a list, which the join to the rollup explodes into
      one output row per (VCF row, matching cache record)."""
    import pandas as pd
    from pyspark.sql import types as T

    from ..functions import consequence as cq

    t = transcripts
    opt = {
        c: (c in t.columns)
        for c in (
            "cds_start", "cds_end", "cds_sequence", "gene_symbol",
            "gene_stable_id", "mature_mirna_regions",
            "spliced_seq", "cdna_seq", "three_prime_utr_seq",
            "cdna_coding_start", "cdna_coding_end",
            "source", "bam_edit_status", "has_non_polya_rna_edit",
            "refseq_edits", "cdna_mapper_segments", "refseq_match",
            "ncrna_structure", "cds_start_nf", "cds_end_nf",
        )
    }
    # RefSeq edited-transcript context (reference TranscriptFeature fields,
    # transcript_consequence.rs:192-260): optional cache columns
    #   refseq_edits          array<struct<start,end,replacement_len,
    #                                      skip_refseq_offset>>
    #   cdna_mapper_segments  array<struct<genomic_start,genomic_end,
    #                                      cdna_start,cdna_end,ori>>
    # packed into one struct so the classify UDF signature stays stable
    _edits_t = (
        "array<struct<start:bigint,end:bigint,replacement_len:bigint,"
        "skip_refseq_offset:boolean>>"
    )
    _segs_t = (
        "array<struct<genomic_start:bigint,genomic_end:bigint,"
        "cdna_start:bigint,cdna_end:bigint,ori:int>>"
    )
    # ONE parse for the whole context struct (r12 round-trip cut); the
    # incomplete-CDS flags reach the ENGINE here (N-pad phase handling,
    # "?-N" coordinate formats — consequence.Transcript.cds_start_nf/
    # cds_end_nf); the FLAGS display column is assembled separately in
    # _tx_meta_map (reference keeps the same split: TranscriptFeature
    # booleans vs flags_str_from_bools)
    def _ctx_field(name: str, col: str, typ: str) -> str:
        return (
            f"cast(`{col}` as {typ})" if opt[col] else f"cast(null as {typ})"
        )

    refseq_ctx = F.expr(
        "named_struct("
        + ", ".join(
            f"'{alias}', {sql}"
            for alias, sql in [
                ("src", _ctx_field("src", "source", "string")),
                ("bam", _ctx_field("bam", "bam_edit_status", "string")),
                ("np_edit", _ctx_field("np_edit", "has_non_polya_rna_edit", "boolean")),
                ("edits", _ctx_field("edits", "refseq_edits", _edits_t)),
                ("segs", _ctx_field("segs", "cdna_mapper_segments", _segs_t)),
                ("refseq_match", _ctx_field("refseq_match", "refseq_match", "string")),
                ("nf_s", _ctx_field("nf_s", "cds_start_nf", "boolean")),
                ("nf_e", _ctx_field("nf_e", "cds_end_nf", "boolean")),
            ]
        )
        + ")"
    )
    tsel = [
        F.col("transcript_id").alias("__t_id"),
        F.col("chrom").alias("__t_chrom"),
        F.col("start").cast("long").alias("__t_start"),
        F.col("end").cast("long").alias("__t_end"),
        F.col("strand").cast("int").alias("__t_strand"),
        F.col("biotype").alias("__t_biotype"),
        (F.col("gene_stable_id") if opt["gene_stable_id"] else F.lit("")).alias("__t_gene"),
        (F.col("gene_symbol") if opt["gene_symbol"] else F.lit("")).alias("__t_symbol"),
        (F.col("cds_start").cast("long") if opt["cds_start"] else F.lit(None).cast("long")).alias(
            "__t_cds_start"
        ),
        (F.col("cds_end").cast("long") if opt["cds_end"] else F.lit(None).cast("long")).alias(
            "__t_cds_end"
        ),
        (F.col("cds_sequence") if opt["cds_sequence"] else F.lit(None).cast("string")).alias(
            "__t_cds_seq"
        ),
        (
            F.col("mature_mirna_regions")
            if opt["mature_mirna_regions"]
            else F.lit(None).cast("array<struct<s:bigint,e:bigint>>")
        ).alias("__t_mirna"),
        # transcript sequence context (reference context columns,
        # annotate_provider.rs:2511-2563): drives the cDNA-space start/stop
        # checks and 3'UTR extraction in the consequence engine
        (F.col("spliced_seq") if opt["spliced_seq"] else F.lit(None).cast("string")).alias(
            "__t_spliced"
        ),
        (F.col("cdna_seq") if opt["cdna_seq"] else F.lit(None).cast("string")).alias(
            "__t_cdna"
        ),
        (
            F.col("three_prime_utr_seq")
            if opt["three_prime_utr_seq"]
            else F.lit(None).cast("string")
        ).alias("__t_utr3"),
        (
            F.col("cdna_coding_start").cast("long")
            if opt["cdna_coding_start"]
            else F.lit(None).cast("long")
        ).alias("__t_ccs"),
        (
            F.col("cdna_coding_end").cast("long")
            if opt["cdna_coding_end"]
            else F.lit(None).cast("long")
        ).alias("__t_cce"),
        refseq_ctx.alias("__t_refseq"),
        # ncRNA dot-bracket secondary structure (reference ncrna_structure
        # transcript attribute) — drives the --everything miRNA CSQ slot
        (
            F.col("ncrna_structure")
            if opt["ncrna_structure"]
            else F.lit(None).cast("string")
        ).alias("__t_ncrna"),
        _tx_meta_map(t).alias("__t_meta"),
    ]
    tctx = t.select(*tsel)
    if translations is not None:
        _check_contract(translations, ("transcript_id", "cds_sequence"), "translations")

        def _tlc(name: str) -> "F.Column":
            return (
                F.col(name) if name in translations.columns else F.lit(None).cast("string")
            )

        tl = translations.select(
            F.col("transcript_id").alias("__t_id"),
            F.col("cds_sequence").alias("__tl_seq"),
            # cached protein + stable id (reference TranslationFeature
            # translation_seq / stable_id): drive the failed-BAM-edit
            # cached-translation precedence and the HGVSp prefix
            _tlc("translation_seq").alias("__tl_prot"),
            _tlc("stable_id").alias("__tl_sid"),
            _tlc("cds_sequence_canonical").alias("__tl_canon_cds"),
            _tlc("translation_seq_canonical").alias("__tl_canon_prot"),
        ).dropDuplicates(["__t_id"])
        tctx = (
            tctx.join(tl, "__t_id", "left")
            .withColumn("__t_cds_seq", F.coalesce(F.col("__t_cds_seq"), F.col("__tl_seq")))
            .drop("__tl_seq")
        )
    else:
        for _c in ("__tl_prot", "__tl_sid", "__tl_canon_cds", "__tl_canon_prot"):
            tctx = tctx.withColumn(_c, F.lit(None).cast("string"))
    if exons is not None:
        packed = exons.groupBy(F.col("transcript_id").alias("__t_id")).agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("start").cast("long").alias("s"), F.col("end").cast("long").alias("e"))
                )
            ).alias("__t_exons")
        )
        tctx = tctx.join(packed, "__t_id", "left")
    else:
        tctx = tctx.withColumn(
            "__t_exons", F.lit(None).cast("array<struct<s:bigint,e:bigint>>")
        )

    pad = max(upstream_distance, downstream_distance)
    pos = F.col("start").cast("long")
    vend = pos + F.greatest(F.length("ref") - 1, F.lit(0))
    # classify straight from the VCF rows, one row per VCF line (a variant
    # with many colocated cache records still costs the engine once).  The
    # explicit repartition on the row id is pinned at the configured shuffle
    # parallelism: the classify Arrow kernel's cost is per ROW, but AQE
    # coalesces an exchange by BYTES — a sub-megabyte variant set collapsed
    # to one task and ran the whole consequence engine serially (measured
    # r11: 1.7 s on 1 task at sf0.1).  A user-specified partition count is
    # exempt from AQE coalescing.  The pairing is the spread frame's only
    # consumer: a second one would get its own, differently pruned copy of
    # this exchange.
    _np = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    variants = rows.select("__vid", "__vep_alt", *vcf_cols).repartition(_np, "__vid")
    # contig-form mismatch (chr1 vs 1) switches the pairing to normalized
    # keys — the reference strips 'chr' at every row-level comparison
    _vforms = (
        vcf_chrom_forms
        if vcf_chrom_forms is not None
        else _chrom_forms(rows.select("chrom"))
    )
    _t_chrom_eq = (
        _chrom_key(F.col("chrom")) == _chrom_key(F.col("__t_chrom"))
        if len(_vforms | _chrom_forms(transcripts)) > 1
        else F.col("chrom") == F.col("__t_chrom")
    )
    paired = variants.join(
        F.broadcast(tctx),
        _t_chrom_eq
        & (pos <= F.col("__t_end") + pad)
        & (vend >= F.col("__t_start") - pad),
        "left",
    )

    res_type = T.StructType(
        [
            T.StructField("terms", T.ArrayType(T.StringType()), True),
            T.StructField("impact", T.StringType(), True),
            T.StructField("hgvsc", T.StringType(), True),
            T.StructField("hgvsp", T.StringType(), True),
            T.StructField("exon", T.StringType(), True),
            T.StructField("intron", T.StringType(), True),
            T.StructField("cdna_position", T.LongType(), True),
            T.StructField("cds_position", T.LongType(), True),
            T.StructField("protein_position", T.LongType(), True),
            T.StructField("amino_acids", T.StringType(), True),
            T.StructField("codons", T.StringType(), True),
            T.StructField("distance", T.LongType(), True),
            # Ensembl display span strings (reference CSQ cDNA_position/
            # CDS_position/Protein_position are Utf8, annotate_provider.rs
            # :222-239); the integer twins above stay for SIFT keying
            T.StructField("cdna_position_str", T.StringType(), True),
            T.StructField("cds_position_str", T.StringType(), True),
            T.StructField("protein_position_str", T.StringType(), True),
            # RefSeq output trio (reference annotate_provider.rs:4266-4285):
            # GIVEN_REF = normalized input ref, USED_REF = the edited
            # transcript's own reference bases, REFSEQ_OFFSET = cumulative
            # sequence-space edit delta at the displayed cDNA start
            T.StructField("given_ref", T.StringType(), True),
            T.StructField("used_ref", T.StringType(), True),
            T.StructField("refseq_offset", T.LongType(), True),
            # --everything miRNA slot: secondary-structure terms for the
            # variant's cDNA span (reference mirna_structure_field,
            # annotate_provider.rs:1991-2090)
            T.StructField("mirna_struct", T.StringType(), True),
            # --everything HGVS_OFFSET: the exposed genomic-shift length
            # when HGVSc consumed it (reference hgvsc_offset_for_output,
            # hgvs.rs:326-345) — non-NULL only with reference_genome
            T.StructField("hgvs_offset", T.LongType(), True),
        ]
    )
    _detail_keys = (
        "exon", "intron", "cdna_position", "cds_position",
        "protein_position", "amino_acids", "codons", "distance",
        "cdna_position_str", "cds_position_str", "protein_position_str",
    )
    _refseq_keys = (
        "given_ref", "used_ref", "refseq_offset", "mirna_struct", "hgvs_offset",
    )

    # engine-level 3'-shift switch, captured into the Arrow closure
    # (reference new_with_hgvs_shift, transcript_consequence.rs:7791-7795)
    _shift_hgvs = hgvs_flags.shift_hgvs if hgvs_flags is not None else True
    # sequence-less position compat, captured into the Arrow closure
    _seqless_positions = seqless_positions
    # genomic 3'-shift state (reference annotate_provider.rs:4207-4240: one
    # forward + one reverse build_hgvs_genomic_shift PER INDEL VARIANT from
    # the FASTA).  A {chrom: seq} mapping ships as a Spark broadcast so the
    # genome serializes once per executor, not once per task; a callable is
    # captured directly (indexed-FASTA readers open lazily executor-side).
    _gen_bc = None
    _gen_fetch = None
    if reference_genome is not None:
        if callable(reference_genome):
            _gen_fetch = reference_genome
        else:
            _gen_bc = rows.sparkSession.sparkContext.broadcast(
                dict(reference_genome)
            )
    # captured by value into the Arrow closure — a relative import inside
    # the pickled UDF body would not resolve on executors
    from ..functions.alleles import vcf_to_vep_allele as _vcf_to_vep
    from ..functions.alleles import vep_norm_end as _norm_e
    from ..functions.alleles import vep_norm_start as _norm_s

    # no type hints: scalar pandas UDF (Series... -> DataFrame for a struct
    # return); string hints would fail to resolve against the local import
    @F.pandas_udf(res_type, F.PandasUDFType.SCALAR)
    def _classify(
        chrom_s, pos_s, ref_s, alt_s, tid,
        ts, te, strand, biotype,
        cds_s, cds_e, cds_seq, exlist, mirna,
        spliced, cdna, utr3, ccs, cce, refseq_s, tl_prot, tl_sid,
        tl_canon_cds, tl_canon_prot, ncrna,
    ):
        out = {"terms": [], "impact": [], "hgvsc": [], "hgvsp": []}
        for k_ in _detail_keys + _refseq_keys:
            out[k_] = []
        # genomic shift state, memoized per distinct variant within the
        # batch (the reference builds it once per variant row)
        _shift_memo: dict = {}

        def _shift_pair(chrom, p, r, a):
            if (_gen_bc is None and _gen_fetch is None) or len(r) == len(a):
                return (None, None)
            key = (chrom, p, r, a)
            pair = _shift_memo.get(key)
            if pair is not None:
                return pair
            if _gen_fetch is not None:
                fetch = _gen_fetch
            else:
                genome = _gen_bc.value

                def fetch(c, s, e):
                    seq = genome.get(c)
                    if seq is None:
                        alt_c = c[3:] if c.startswith("chr") else "chr" + c
                        seq = genome.get(alt_c, "")
                    return seq[s - 1 : e]

            chrom_n = chrom[3:] if chrom.startswith("chr") else chrom
            vr, va = _vcf_to_vep(r, a)
            vs = _norm_s(p, r, a)
            ve = _norm_e(p, r, a)
            pair = (
                cq.build_hgvs_genomic_shift(fetch, chrom_n, vr, va, vs, ve, 1),
                cq.build_hgvs_genomic_shift(fetch, chrom_n, vr, va, vs, ve, -1),
            )
            _shift_memo[key] = pair
            return pair

        # list-zip iteration + a per-batch Transcript cache: a pairing batch
        # repeats each transcript across many variants, and .iloc-per-row
        # access dominates otherwise (sf1 bench: 94 s → ~10 s)
        tr_cache: dict = {}
        rows = zip(
            chrom_s.tolist(),
            pos_s.tolist(), ref_s.tolist(), alt_s.tolist(), tid.tolist(),
            ts.tolist(), te.tolist(), strand.tolist(), biotype.tolist(),
            cds_s.tolist(), cds_e.tolist(), cds_seq.tolist(), exlist.tolist(),
            mirna.tolist(), spliced.tolist(), cdna.tolist(), utr3.tolist(),
            ccs.tolist(), cce.tolist(),
            # a struct column arrives as a nested pandas DataFrame in a
            # scalar pandas UDF — one dict per row
            refseq_s.to_dict("records")
            if isinstance(refseq_s, pd.DataFrame)
            else refseq_s.tolist(),
            tl_prot.tolist(), tl_sid.tolist(),
            tl_canon_cds.tolist(), tl_canon_prot.tolist(), ncrna.tolist(),
        )
        for (chv, p, r, a, t_id, tsv, tev, stv, btv, csv_, cev, seqv, ex, mir,
             spl, cdn, u3, ccsv, ccev, rsq, tlp, tls, tlcc, tlcp,
             ncv) in rows:
            if t_id is None or pd.isna(tsv):
                out["terms"].append(None)
                out["impact"].append(None)
                out["hgvsc"].append(None)
                out["hgvsp"].append(None)
                for k_ in _detail_keys + _refseq_keys:
                    out[k_].append(None)
                continue
            tr = tr_cache.get(t_id)
            if tr is None:
                exs = (
                    [(int(d["s"]), int(d["e"])) for d in ex]
                    if ex is not None and len(ex) > 0
                    else []
                )
                refseq_kw: dict = {}
                if rsq is not None:
                    def _opt(v):
                        return None if v is None or (isinstance(v, float) and pd.isna(v)) else v

                    refseq_kw["source"] = _opt(rsq.get("src"))
                    refseq_kw["bam_edit_status"] = _opt(rsq.get("bam"))
                    refseq_kw["has_non_polya_rna_edit"] = bool(
                        _opt(rsq.get("np_edit")) or False
                    )
                    refseq_kw["cds_start_nf"] = bool(_opt(rsq.get("nf_s")) or False)
                    refseq_kw["cds_end_nf"] = bool(_opt(rsq.get("nf_e")) or False)
                    edits_arr = rsq.get("edits")
                    segs_arr = rsq.get("segs")
                    if edits_arr is not None and len(edits_arr) > 0:
                        refseq_kw["refseq_edits"] = [
                            cq.RefSeqEdit(
                                int(d["start"]),
                                int(d["end"]),
                                None
                                if d.get("replacement_len") is None
                                else int(d["replacement_len"]),
                                bool(d.get("skip_refseq_offset") or False),
                            )
                            for d in edits_arr
                        ]
                    if segs_arr is not None and len(segs_arr) > 0:
                        refseq_kw["cdna_mapper_segments"] = [
                            cq.MapperSegment(
                                int(d["genomic_start"]),
                                int(d["genomic_end"]),
                                int(d["cdna_start"]),
                                int(d["cdna_end"]),
                                1 if d.get("ori") is None else int(d["ori"]),
                            )
                            for d in segs_arr
                        ]
                tr = cq.Transcript(
                    transcript_id=str(t_id),
                    chrom="",
                    start=int(tsv),
                    end=int(tev),
                    strand=int(stv),
                    biotype=str(btv),
                    exons=exs,
                    cds_start=None if pd.isna(csv_) else int(csv_),
                    cds_end=None if pd.isna(cev) else int(cev),
                    cds_sequence=None if seqv is None else str(seqv),
                    mature_mirna_regions=(
                        [(int(d["s"]), int(d["e"])) for d in mir]
                        if mir is not None and len(mir) > 0
                        else []
                    ),
                    spliced_seq=None if spl is None else str(spl),
                    cdna_seq=None if cdn is None else str(cdn),
                    three_prime_utr_seq=None if u3 is None else str(u3),
                    cdna_coding_start=None if pd.isna(ccsv) else int(ccsv),
                    cdna_coding_end=None if pd.isna(ccev) else int(ccev),
                    translation_seq=None if tlp is None else str(tlp),
                    translation_stable_id=None if tls is None else str(tls),
                    cds_sequence_canonical=None if tlcc is None else str(tlcc),
                    translation_seq_canonical=None if tlcp is None else str(tlcp),
                    **refseq_kw,
                )
                tr_cache[t_id] = tr
            p, r, a = int(p), str(r), str(a)
            terms = cq.classify(tr, p, r, a, upstream_distance, downstream_distance)
            ms = cq.most_severe(terms)
            out["terms"].append(terms if terms else None)
            out["impact"].append(cq.SO_IMPACT.get(ms) if ms else None)
            # genomic shift state: FASTA-derived when reference_genome is
            # given (the reference's only mode — it refuses HGVS without a
            # FASTA), None otherwise (this pipeline's historical shift-less
            # degradation).  Strand picks the forward/reverse build
            # (annotate_provider.rs:4207-4240).
            if _shift_hgvs and len(r) != len(a):
                sh_f, sh_r = _shift_pair(str(chv), p, r, a)
                sh = sh_f if int(stv) >= 0 else sh_r
            else:
                sh = None
            out["hgvsc"].append(cq.hgvs_c(tr, p, r, a, shift=sh))
            # the reference's HGVSp OUTPUT dispatch (transcript_consequence
            # .rs:4807-5010), not bare hgvs_p: suppresses protein notation
            # for non-coding original terms and replays edited-RefSeq
            # transcript-sequence shifts.
            # Sequence-less transcripts can never yield HGVSp (hgvs_p's
            # first guard) — skip the dispatch's normalize/shift prechecks
            out["hgvsp"].append(
                cq.protein_hgvs_for_output(
                    tr, p, r, a, sh, terms, shift_hgvs=_shift_hgvs
                )
                if tr.cds_sequence is not None
                else None
            )
            det = cq.annotation_details(
                tr, p, r, a, seqless_positions=_seqless_positions
            )
            for k_ in _detail_keys:
                out[k_].append(det[k_])
            vs_, ve_, ref_n, _alt_n, _ins = cq.normalize_variant(p, r, a)
            given = ref_n.upper() if ref_n else None
            # USED_REF reports the 3'-SHIFTED deleted bases when the
            # protein-HGVS path consumed the shift (reference
            # shifted_deletion_uses_protein_hgvs_reference,
            # transcript_consequence.rs:7459-7480 → used_ref_for_
            # transcript_variant's use_shifted_deleted_ref arm)
            use_sref = (
                sh is not None
                and cq.shifted_deletion_uses_protein_hgvs_reference(
                    tr, _alt_n, ref_n, sh, terms, shift_hgvs=_shift_hgvs
                )
            )
            used = (
                cq.used_ref_for_transcript_variant(
                    tr, vs_, ve_, ref_n, _alt_n, sh, use_sref
                )
                if given is not None
                else None
            )
            out["given_ref"].append(given)
            out["used_ref"].append(used)
            out["refseq_offset"].append(
                cq.refseq_offset_for_output(tr, det["cdna_position_str"])
                if out["hgvsc"][-1] is not None
                else None
            )
            # --everything miRNA slot: cDNA span parsed from the display
            # string ("N" / "N-M"), like the reference writer's own parse
            # (annotate_provider.rs:4404-4420)
            mir_s = None
            if ncv is not None and btv == "miRNA":
                cps = det["cdna_position_str"]
                cs0 = ce0 = None
                if cps:
                    parts = str(cps).split("-")
                    try:
                        cs0 = int(parts[0])
                        ce0 = int(parts[1]) if len(parts) > 1 else cs0
                    except ValueError:
                        cs0 = ce0 = None
                if cs0 is not None and cs0 > 0:
                    mir_s = cq.mirna_structure_field(str(ncv), str(btv), cs0, ce0)
            out["mirna_struct"].append(mir_s)
            # HGVS_OFFSET mirrors the per-transcript HGVSc shift decision
            # (reference writer, annotate_provider.rs:4318-4343): VEP-
            # minimized alleles, USED_REF preferred when present
            if sh is not None:
                vr_m, va_m = _vcf_to_vep(r, a)
                out["hgvs_offset"].append(
                    cq.hgvsc_offset_for_output(
                        tr, out["used_ref"][-1] or vr_m, va_m,
                        out["hgvsc"][-1], sh,
                    )
                )
            else:
                out["hgvs_offset"].append(None)
        return pd.DataFrame(out)

    paired = paired.withColumn(
        "__res",
        _classify(
            F.col("chrom"), pos, F.col("ref"), F.col("alt"), F.col("__t_id"),
            F.col("__t_start"), F.col("__t_end"), F.col("__t_strand"),
            F.col("__t_biotype"), F.col("__t_cds_start"), F.col("__t_cds_end"),
            F.col("__t_cds_seq"), F.col("__t_exons"), F.col("__t_mirna"),
            F.col("__t_spliced"), F.col("__t_cdna"), F.col("__t_utr3"),
            F.col("__t_ccs"), F.col("__t_cce"), F.col("__t_refseq"),
            F.col("__tl_prot"), F.col("__tl_sid"),
            F.col("__tl_canon_cds"), F.col("__tl_canon_prot"),
            F.col("__t_ncrna"),
        ),
    )
    # a transcript within the ±pad window can still yield no term (e.g. on
    # the wrong strand side beyond its distance cutoff) — treat as unpaired
    paired = paired.withColumn(
        "__terms",
        F.when(F.size(F.col("__res.terms")) > 0, F.col("__res.terms")).otherwise(
            F.lit(None).cast("array<string>")
        ),
    )

    # ── HGVS output gating + the output-time HGVSp transform (reference
    # hgvs_flags consumption at BOTH writers, annotate_provider.rs:
    # 4243-4260 CSQ entry / 4645-4660 typed column): hgvsc/hgvsp switch
    # the slots off entirely; format_hgvsp_output strips the translation
    # version / parenthesizes the prediction form / escapes '=' → '%3D'
    # by default (no_escape inverts) ──
    from ..functions.consequence import format_hgvsp_output_col

    hf = hgvs_flags if hgvs_flags is not None else HgvsFlags()
    paired = paired.withColumn(
        "__hgvsc",
        F.col("__res.hgvsc") if hf.hgvsc else F.lit(None).cast("string"),
    ).withColumn(
        "__hgvsp",
        format_hgvsp_output_col(
            F.col("__res.hgvsp"),
            hf.remove_hgvsp_version,
            hf.no_escape,
            hf.hgvsp_use_prediction,
        )
        if hf.hgvsp
        else F.lit(None).cast("string"),
    )

    # ── per-entry SIFT / PolyPhen / DOMAINS (reference lookup_sift_polyphen
    # annotate_provider.rs:2111-2176 / lookup_domains :5990-6056): computed
    # per (variant, transcript) pair so the --everything CSQ entries and the
    # typed best-transcript columns read the SAME values; both context
    # tables are annotation-sized → broadcast joins ──
    if sift is not None:
        _check_contract(
            sift, ("transcript_id", "protein_position", "alt_aa"), "sift"
        )

        def _s(name: str, typ: str) -> "F.Column":
            # scores keep their NATIVE numeric type — float→double widening
            # before rendering would print representation noise
            return (
                F.col(name) if name in sift.columns else F.lit(None).cast(typ)
            ).alias(f"__s_{name}")

        stbl = sift.select(
            F.col("transcript_id").alias("__s_tx"),
            F.col("protein_position").cast("long").alias("__s_pp"),
            F.col("alt_aa").alias("__s_aa"),
            _s("sift_prediction", "string"),
            _s("sift_score", "double"),
            _s("polyphen_prediction", "string"),
            _s("polyphen_score", "double"),
        ).dropDuplicates(["__s_tx", "__s_pp", "__s_aa"])
        aa = F.col("__res.amino_acids")
        # the reference gate is exactly "two '/'-parts, each length 1" plus
        # a non-range integer protein position (lookup_sift_polyphen,
        # annotate_provider.rs:2121-2137) — NOT letters-only: a boundary
        # insertion's '-/T' or 'X/I' single-char form still looks up (the
        # '-' side simply never matches a matrix row)
        alt_aa = F.when(
            aa.rlike(r"^[^/]/[^/]$")
            & F.col("__res.protein_position_str").rlike(r"^[0-9]+$"),
            F.substring(aa, 3, 1),
        )
        paired = paired.withColumn("__alt_aa", alt_aa).join(
            F.broadcast(stbl),
            (F.col("__t_id") == F.col("__s_tx"))
            & (F.col("__res.protein_position") == F.col("__s_pp"))
            & (F.col("__alt_aa") == F.col("__s_aa")),
            "left",
        )

        def _fmt(pred: str, score: str) -> "F.Column":
            # VEP --sift b / --polyphen b rendering: prediction(score),
            # spaces collapsed to underscores
            p = F.regexp_replace(F.col(pred), " - ", " ")
            p = F.regexp_replace(p, " ", "_")
            return F.when(
                F.col(pred).isNotNull(),
                F.concat(p, F.lit("("), F.col(score).cast("string"), F.lit(")")),
            )

        paired = paired.withColumn(
            "__e_sift", _fmt("__s_sift_prediction", "__s_sift_score")
        ).withColumn(
            "__e_polyphen", _fmt("__s_polyphen_prediction", "__s_polyphen_score")
        )
    else:
        paired = paired.withColumn(
            "__e_sift", F.lit(None).cast("string")
        ).withColumn("__e_polyphen", F.lit(None).cast("string"))

    if domains is not None:
        _check_contract(domains, ("transcript_id", "start", "end"), "domains")

        def _d(name: str) -> "F.Column":
            return (
                F.col(name).cast("string")
                if name in domains.columns
                else F.lit(None).cast("string")
            ).alias(name)

        dtbl = (
            domains.select(
                F.col("transcript_id").alias("__d_tx"),
                F.struct(
                    F.col("start").cast("long").alias("s"),
                    F.col("end").cast("long").alias("e"),
                    _d("analysis"),
                    _d("hseqname"),
                ).alias("__d_f"),
            )
            .groupBy("__d_tx")
            .agg(F.collect_list("__d_f").alias("__d_feats"))
        )
        paired = paired.join(
            F.broadcast(dtbl), F.col("__t_id") == F.col("__d_tx"), "left"
        )
        pp = F.col("__res.protein_position_str")
        arr = F.split(pp, "-")
        ps_raw = F.element_at(arr, 1).cast("long")
        pe_raw = F.when(F.size(arr) > 1, F.element_at(arr, 2).cast("long")).otherwise(
            ps_raw
        )
        # VEP's Mapper.map_insert swaps translation start/end for insertions
        # (amino_acids '-/X'), excluding features touching only the exact
        # insertion boundary
        is_ins = F.col("__res.amino_acids").startswith("-/")
        ps = F.when(is_ins, pe_raw).otherwise(ps_raw)
        pe = F.when(is_ins, ps_raw).otherwise(pe_raw)
        valid = pp.isNotNull() & ~pp.contains("?") & ps.isNotNull() & pe.isNotNull()
        # the reference's lookup_domains skips a feature whose analysis AND
        # hseqname are both NULL (parts.is_empty → continue) instead of
        # emitting an empty label into the '&' join
        labels = F.filter(
            F.transform(
                F.filter(
                    F.coalesce(F.col("__d_feats"), F.array()),
                    lambda f: (ps <= f["e"]) & (pe >= f["s"]),
                ),
                lambda f: F.regexp_replace(
                    F.concat_ws(
                        ":",
                        *[
                            F.when(f[k].isNotNull(), f[k])
                            for k in ("analysis", "hseqname")
                        ],
                    ),
                    r"[ ;=]",
                    "_",
                ),
            ),
            lambda lbl: lbl != "",
        )
        paired = paired.withColumn(
            "__e_domains",
            F.when(valid, F.nullif(F.array_join(labels, "&"), F.lit(""))),
        )
    else:
        paired = paired.withColumn("__e_domains", F.lit(None).cast("string"))

    rank_map = _so_rank_map()

    # ── full-width CSQ entry parts (reference per-transcript writer,
    # annotate_provider.rs:4430-4475 — the 74-field default layout,
    # VEP_CSQ_FIELDS).  Existing_variation (field 18) and the 33-field
    # Batch 3 suffix are per-VARIANT (colocated-cache aggregates) and are
    # spliced in after the rollup joins the colocated aggregate; the entry
    # carries the two per-transcript spans around them.  concat_ws drops
    # NULL args (shifting fields), so every slot coalesces to ''. ──
    # ENSP = the transcript's translation stable id (reference writer reads
    # tx.translation_stable_id, annotate_provider.rs:4297-4299): the
    # transcripts table's own `ensp` column when present, else the
    # translations table's stable_id (the same TranslationFeature field)
    _ensp = F.coalesce(
        F.col("__t_meta")[F.lit("ENSP")], F.col("__tl_sid"), F.lit("")
    )

    # ONE SQL-text parse instead of ~80 Column-API round trips (r12; see the
    # _sql_* helpers).  Slot list byte-identical to the former Column form:
    # every slot coalesces — a NULL in concat_ws silently DROPS the field
    # and shifts the whole layout; the Allele slot carries the VEP-MINIMIZED
    # alt (reference writer renders vep_allele, annotate_provider.rs:3977).
    entry_p1 = F.expr(
        "concat_ws('|', "
        + ", ".join(
            [
                _sql_e("__vep_alt"),
                "concat_ws('&', __terms)",
                _sql_e("__res.impact"),
                _sql_esc("__t_symbol"),
                _sql_esc("__t_gene"),
                "'Transcript'",
                _sql_esc("__t_id"),
                _sql_e("__t_biotype"),
                _sql_e("__res.exon"),
                _sql_e("__res.intron"),
                _sql_esc("__hgvsc"),
                _sql_esc("__hgvsp"),
                _sql_e("__res.cdna_position_str"),
                _sql_e("__res.cds_position_str"),
                _sql_e("__res.protein_position_str"),
                _sql_e("__res.amino_acids"),
                _sql_e("__res.codons"),
            ]
        )
        + ")"
    )
    # SOURCE-slot span by cache mode (reference per-mode writer arms,
    # annotate_provider.rs:4444-4475 + csq_field_names_for_mode): the
    # refseq provenance fields are per-transcript values the engine already
    # carries; REFSEQ_OFFSET renders only when an HGVSc was emitted, like
    # the reference's refseq_offset_value gate
    _roff = F.when(
        F.col("__hgvsc").isNotNull(), F.col("__res.refseq_offset")
    )
    _roff_sql = "(case when __hgvsc is not null then __res.refseq_offset end)"
    if csq_mode == "refseq":
        src_span = [
            _sql_e("__t_refseq.refseq_match"),
            _sql_e(_roff_sql),
            _sql_e("__res.given_ref"),
            _sql_e("__res.used_ref"),
            _sql_e("upper(__t_refseq.bam)"),
        ]
    elif csq_mode == "merged":
        src_span = [
            _sql_e("__t_refseq.refseq_match"),
            _sql_e("__t_refseq.src"),
            _sql_e(_roff_sql),
            _sql_e("__res.given_ref"),
            _sql_e("__res.used_ref"),
            _sql_e("upper(__t_refseq.bam)"),
        ]
    elif csq_everything:
        src_span = []                      # --everything drops the SOURCE slot
    else:
        src_span = ["''"]                  # SOURCE (ensembl mode: empty)
    n_src = len(src_span)
    _ensp_sql = "coalesce(__t_meta['ENSP'], __tl_sid, '')"
    if csq_everything:
        # --everything entry span (reference writer arm, annotate_provider
        # .rs:4318-4455): VARIANT_CLASS follows FLAGS, generic MANE derives
        # from the MANE_SELECT / MANE_PLUS_CLINICAL slots (VEP OutputFactory
        # MANE output), APPRIS arrives pre-abbreviated from the meta map,
        # SIFT/PolyPhen/DOMAINS/miRNA are the per-entry context values
        # (DOMAINS gated on a coding CDS mapping, VEP's $pre->{coding}),
        # HGVS_OFFSET mirrors the FASTA-derived genomic-shift hash → empty
        # without a FASTA; the refseq/merged provenance splice lands before
        # GENE_PHENO (csq_field_names_for_mode everything arm)
        _mane_sql = (
            "(case when __t_meta['MANE_SELECT'] is not null "
            "and __t_meta['MANE_SELECT'] != '' then 'MANE_Select' "
            "when __t_meta['MANE_PLUS_CLINICAL'] is not null "
            "and __t_meta['MANE_PLUS_CLINICAL'] != '' then 'MANE_Plus_Clinical' "
            "else '' end)"
        )
        _coding_domains_sql = (
            "(case when __res.cds_position_str is not null "
            "and __res.cds_position_str != '' then __e_domains end)"
        )
        entry_p2 = F.expr(
            "concat_ws('|', "
            + ", ".join(
                [
                    _sql_e("__res.distance"),   # DISTANCE
                    _sql_e("__t_strand"),       # STRAND ('1' / '-1')
                    _sql_m("FLAGS"),
                    _sql_variant_class(),
                    _sql_m("SYMBOL_SOURCE"),
                    _sql_m("HGNC_ID"),
                    _sql_m("CANONICAL"),
                    _mane_sql,
                    _sql_m("MANE_SELECT"),
                    _sql_m("MANE_PLUS_CLINICAL"),
                    _sql_m("TSL"),
                    _sql_m("APPRIS"),
                    _sql_m("CCDS"),
                    _ensp_sql,
                    _sql_esc("__t_meta['SWISSPROT']"),
                    _sql_esc("__t_meta['TREMBL']"),
                    _sql_m("UNIPARC"),
                    _sql_m("UNIPROT_ISOFORM"),
                    *src_span,
                    _sql_m("GENE_PHENO"),
                    _sql_e("__e_sift"),
                    _sql_e("__e_polyphen"),
                    _sql_e(_coding_domains_sql),
                    _sql_e("__res.mirna_struct"),
                    # HGVS_OFFSET: the exposed genomic-shift length (empty
                    # without reference_genome, the shift-less degradation)
                    _sql_e("__res.hgvs_offset"),
                ]
            )
            + ")"
        )
        # intergenic/feature entries: 3 leading empties, VARIANT_CLASS,
        # then the remaining slots empty
        _empty_e2_pre, _empty_e2_post = 3, 20 + n_src
    else:
        entry_p2 = F.expr(
            "concat_ws('|', "
            + ", ".join(
                [
                    _sql_e("__res.distance"),       # DISTANCE
                    _sql_e("__t_strand"),           # STRAND ('1' / '-1')
                    _sql_m("FLAGS"),
                    _sql_m("SYMBOL_SOURCE"),
                    _sql_m("HGNC_ID"),
                    # MOTIF_NAME..TRANSCRIPTION_FACTORS: always empty, like
                    # the reference (motif consequence data not exposed)
                    "''", "''", "''", "''", "''",
                    *src_span,
                    _sql_variant_class(),
                    _sql_m("CANONICAL"),
                    _sql_m("TSL"),
                    _sql_m("MANE_SELECT"),
                    _sql_m("MANE_PLUS_CLINICAL"),
                    _ensp_sql,
                    _sql_m("GENE_PHENO"),
                    _sql_m("CCDS"),
                    # SWISSPROT/TREMBL are the two metadata fields the
                    # reference csq_escape()s in the writer
                    # (annotate_provider.rs:4309-4313)
                    _sql_esc("__t_meta['SWISSPROT']"),
                    _sql_esc("__t_meta['TREMBL']"),
                    _sql_m("UNIPARC"),
                    _sql_m("UNIPROT_ISOFORM"),
                ]
            )
            + ")"
        )
        _empty_e2_pre, _empty_e2_post = 10 + n_src, 11
    with_entry = paired.withColumn(
        "__e1", F.when(F.col("__terms").isNotNull(), entry_p1)
    ).withColumn(
        "__e2", F.when(F.col("__terms").isNotNull(), entry_p2)
    ).withColumn(
        # rank-prefixed term so a plain min() picks the most severe one
        "__best_term",
        F.expr(
            "case when __terms is not null then array_min(transform("
            f"__terms, x -> format_string('%02d|%s', {_so_rank_map_sql()}[x],"
            " x))) end"
        ),
    ).withColumn(
        # deterministic min_by key: transcript_id breaks ties when two
        # transcripts share the same most-severe term
        "__best_key",
        F.expr(
            "case when __terms is not null "
            "then concat_ws('|', __best_term, __t_id) end"
        ),
    )

    best_struct = F.expr(
        "case when __terms is not null then named_struct("
        + ", ".join(
            f"'{name}', {src}"
            for name, src in [
                ("feature", "__t_id"),
                ("gene", "__t_gene"),
                ("symbol", "__t_symbol"),
                ("biotype", "__t_biotype"),
                ("impact", "__res.impact"),
                ("hgvsc", "__hgvsc"),
                ("hgvsp", "__hgvsp"),
                ("terms", "__terms"),
                ("strand", "__t_strand"),
                ("exon", "__res.exon"),
                ("intron", "__res.intron"),
                ("cdna_position", "__res.cdna_position"),
                ("cds_position", "__res.cds_position"),
                ("protein_position", "__res.protein_position"),
                ("amino_acids", "__res.amino_acids"),
                ("codons", "__res.codons"),
                ("distance", "__res.distance"),
                ("cdna_position_str", "__res.cdna_position_str"),
                ("cds_position_str", "__res.cds_position_str"),
                ("protein_position_str", "__res.protein_position_str"),
                ("given_ref", "__res.given_ref"),
                ("used_ref", "__res.used_ref"),
                ("refseq_offset", _roff_sql),
                ("bam_edit", "upper(__t_refseq.bam)"),
                ("source", "__t_refseq.src"),
                ("refseq_match", "__t_refseq.refseq_match"),
                ("sift", "__e_sift"),
                ("polyphen", "__e_polyphen"),
                ("domains", "__e_domains"),
                ("meta", "__t_meta"),
            ]
        )
        + ") end"
    )
    pre = (
        with_entry.withColumn("__best_struct", best_struct)
        .withColumn("__is_tx", F.col("__terms").isNotNull())
        .withColumn("__ftr", F.lit(0))
        .withColumn("__fid", F.col("__t_id"))
        .select(
            "__vid", F.struct(*vcf_cols).alias("__vrow"), "__vep_alt", "__e1",
            "__e2", "__best_term", "__best_key", "__best_struct", "__is_tx",
            "__ftr", "__fid",
        )
    )

    # context-feature arms (reference regulatory/motif/structural context)
    # read the VCF rows' variant columns only and key on the row id:
    # schema per frame: *_vkeys, feature_id, feature_biotype,
    # feature_terms (rank-sorted array — one CSQ ENTRY may carry several
    # '&'-joined terms, e.g. regulatory_region_ablation&regulatory_region_
    # variant), __ftype (the reference FeatureType label)
    feat_frames = []
    _term_sorted = F.transform(
        F.array_sort(
            F.collect_set(
                F.format_string(
                    "%02d|%s", rank_map[F.col("feature_term")], F.col("feature_term")
                )
            )
        ),
        lambda x: F.substring_index(x, "|", -1),
    )
    def _rank_sort_arr(arr: "F.Column") -> "F.Column":
        # distinct terms → SO-rank order (an entry's '&'-join order)
        return F.transform(
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        arr,
                        lambda x: F.format_string("%02d|%s", rank_map[x], x),
                    )
                )
            ),
            lambda x: F.substring_index(x, "|", -1),
        )

    # the id plus what a feature entry renders (Allele slot, VARIANT_CLASS)
    # and the sv_tx arm's contig gate; feature frames JOIN on the id only
    _vkeys = ["__vid", "chrom", "ref", "alt", "__vep_alt"]
    fvars = rows.select(*_vkeys, "start", "end")
    # structural-variant term sets split by feature family (reference
    # append_*_terms: reg-kind SV terms merge INTO the regulatory entries,
    # TFBS-kind into the single motif entry, transcript/generic-kind fuse
    # into one id-less default entry — transcript_consequence.rs:1380-1770)
    sv_reg = sv_tfbs = sv_tx = None
    if structural is not None:
        st = structural_terms(
            fvars, structural,
            chrom_normalize=bool(
                len(_vforms | _chrom_forms(structural)) > 1
            ),
        )

        def _sv_fam(cond) -> DataFrame:
            return (
                st.filter(cond)
                .groupBy(*_vkeys)
                .agg(F.collect_set("feature_term").alias("__sv_terms"))
            )

        sv_reg = _sv_fam(F.col("feature_term").startswith("regulatory_region_"))
        sv_tfbs = _sv_fam(F.col("feature_term").startswith("TFBS_"))
        sv_tx = _sv_fam(
            F.col("feature_term").isin(
                "transcript_ablation", "transcript_amplification",
                "feature_elongation", "feature_truncation",
            )
        )
    if regulatory is not None or motifs is not None or sv_reg is not None:
        if regulatory is not None or motifs is not None:
            rf = regulatory_features(
                fvars, regulatory, motifs,
                chrom_normalize=bool(
                    len(
                        _vforms
                        | _chrom_forms(
                            regulatory if regulatory is not None else motifs
                        )
                        | (_chrom_forms(motifs) if motifs is not None else set())
                    )
                    > 1
                ),
            )
        else:
            rf = None
        # one entry per (variant, regulatory feature): ablation+variant
        # terms fuse into the SAME entry (reference append_regulatory_terms
        # pushes ONE TranscriptConsequence with the ordered term set),
        # PLUS the variant's regulatory-kind SV terms (sv_terms.clone() is
        # seeded into every per-feature term set)
        reg_g = (
            rf.filter(F.col("feature_term") != "TF_binding_site_variant")
            .groupBy(*_vkeys, "feature_id", "feature_biotype")
            .agg(_term_sorted.alias("feature_terms"))
            if rf is not None
            else None
        )
        if reg_g is not None and sv_reg is not None:
            reg_g = reg_g.join(
                F.broadcast(sv_reg.select("__vid", "__sv_terms")), "__vid", "left"
            ).withColumn(
                "feature_terms",
                _rank_sort_arr(
                    F.concat(
                        F.col("feature_terms"),
                        F.coalesce(F.col("__sv_terms"), F.array()),
                    )
                ),
            ).drop("__sv_terms")
        if reg_g is not None:
            feat_frames.append(
                reg_g.select(
                    *_vkeys, "feature_id", "feature_biotype", "feature_terms",
                    F.lit("RegulatoryFeature").alias("__ftype"),
                )
            )
        if sv_reg is not None:
            # reg-SV terms with NO overlapped regulatory feature emit one
            # standalone id-less RegulatoryFeature entry (reference
            # append_regulatory_terms' !matched_regulatory arm)
            standalone = (
                sv_reg.join(reg_g.select("__vid"), "__vid", "left_anti")
                if reg_g is not None
                else sv_reg
            )
            feat_frames.append(
                standalone.select(
                    *_vkeys,
                    F.lit(None).cast("string").alias("feature_id"),
                    F.lit(None).cast("string").alias("feature_biotype"),
                    _rank_sort_arr(F.col("__sv_terms")).alias("feature_terms"),
                    F.lit("RegulatoryFeature").alias("__ftype"),
                )
            )
        # motif entries collapse to ONE per variant with NO feature id —
        # the reference's append_tfbs_terms is an any() over the motif
        # table pushing a single id-less MotifFeature row whose term set
        # ALSO carries the variant's TFBS-kind SV terms
        # (transcript_consequence.rs:1573-1621; CSQ Feature slot renders
        # tc.transcript_id=None as '')
        mot_hit = (
            rf.filter(F.col("feature_term") == "TF_binding_site_variant")
            .groupBy(*_vkeys)
            .agg(F.lit(True).alias("__mhit"))
            if rf is not None
            else None
        )
        if mot_hit is not None and sv_tfbs is not None:
            # a full join of the two on the id, NULL-safe on the carried
            # columns: one group per variant over both frames' rows
            mot_all = (
                mot_hit.withColumn("__sv_terms", F.lit(None).cast("array<string>"))
                .unionByName(
                    sv_tfbs.withColumn("__mhit", F.lit(None).cast("boolean"))
                )
                .groupBy(*_vkeys)
                .agg(
                    F.max("__mhit").alias("__mhit"),
                    F.first("__sv_terms", ignorenulls=True).alias("__sv_terms"),
                )
            )
        elif mot_hit is not None:
            mot_all = mot_hit.withColumn(
                "__sv_terms", F.lit(None).cast("array<string>")
            )
        elif sv_tfbs is not None:
            mot_all = sv_tfbs.withColumn("__mhit", F.lit(None).cast("boolean"))
        else:
            mot_all = None
        if mot_all is not None:
            feat_frames.append(
                mot_all.select(
                    *_vkeys,
                    F.lit(None).cast("string").alias("feature_id"),
                    F.lit(None).cast("string").alias("feature_biotype"),
                    _rank_sort_arr(
                        F.concat(
                            F.when(
                                F.coalesce(F.col("__mhit"), F.lit(False)),
                                F.array(F.lit("TF_binding_site_variant")),
                            ).otherwise(F.array().cast("array<string>")),
                            F.coalesce(F.col("__sv_terms"), F.array()),
                        )
                    ).alias("feature_terms"),
                    F.lit("MotifFeature").alias("__ftype"),
                )
            )
    if sv_tx is not None:
        # transcript/generic-kind SV terms fuse into ONE id-less default
        # entry per variant (FeatureType::None), emitted only when the
        # variant's chromosome carries transcripts at all (the reference's
        # has_transcripts_on_chrom gate) — a broadcast left-semi join
        # against the transcript table's chrom set, no driver collect
        tchroms = transcripts.select(
            _chrom_key(F.col("chrom")).alias("__tc")
        ).distinct()
        feat_frames.append(
            sv_tx.join(
                F.broadcast(tchroms),
                _chrom_key(F.col("chrom")) == F.col("__tc"),
                "left_semi",
            ).select(
                *_vkeys,
                F.lit(None).cast("string").alias("feature_id"),
                F.lit(None).cast("string").alias("feature_biotype"),
                _rank_sort_arr(F.col("__sv_terms")).alias("feature_terms"),
                F.lit("").alias("__ftype"),
            )
        )
    if mirnas is not None:
        # mature-miRNA context table (annotate_provider.rs:3378-3440): the
        # reference's append_mirna_terms is an any() over the table pushing
        # a single DEFAULT TranscriptConsequence — FeatureType::None (rank
        # 3, empty Feature_type/Feature slots), no id — and the overlap is
        # feature_overlaps in minimized coordinates
        _check_contract(mirnas, ("chrom", "start", "end"), "mirnas")
        from ..functions.alleles import (
            vep_allele_udf, vep_norm_end_udf, vep_norm_start_udf,
        )

        mi = mirnas.select(
            F.col("chrom").alias("__fc"),
            F.col("start").cast("long").alias("__fs"),
            F.col("end").cast("long").alias("__fe"),
        )
        vpos_r = F.col("start").cast("long")
        vend_r = F.col("end").cast("long")
        _pn = (
            (F.col("ref") == "-") | (F.col("alt") == "-")
            | (F.length(F.coalesce(F.col("ref"), F.lit(""))) == 0)
            | (F.length(F.coalesce(F.col("alt"), F.lit(""))) == 0)
        )
        vpos = F.when(_pn, vpos_r).otherwise(
            vep_norm_start_udf(vpos_r, F.col("ref"), F.col("alt"))
        )
        vend_ = F.when(_pn, vend_r).otherwise(
            vep_norm_end_udf(vpos_r, F.col("ref"), F.col("alt"))
        )
        _ins = F.when(
            _pn,
            (F.col("ref") == "-")
            | (F.length(F.coalesce(F.col("ref"), F.lit(""))) == 0),
        ).otherwise(
            F.substring_index(
                vep_allele_udf(F.col("ref"), F.col("alt")), "/", 1
            )
            == "-"
        )
        feat_frames.append(
            fvars.join(
                F.broadcast(mi),
                (
                    _chrom_key(F.col("chrom")) == _chrom_key(F.col("__fc"))
                    if len(_vforms | _chrom_forms(mirnas)) > 1
                    else F.col("chrom") == F.col("__fc")
                )
                & F.when(_ins, (vpos > F.col("__fs")) & (vpos <= F.col("__fe"))).otherwise(
                    (vpos <= F.col("__fe")) & (vend_ >= F.col("__fs"))
                ),
            )
            .groupBy(*_vkeys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .select(
                *_vkeys,
                F.lit(None).cast("string").alias("feature_id"),
                F.lit(None).cast("string").alias("feature_biotype"),
                F.array(F.lit("mature_miRNA_variant")).alias("feature_terms"),
                F.lit("").alias("__ftype"),
            )
        )
    if feat_frames:
        feats = feat_frames[0]
        for fdf in feat_frames[1:]:
            feats = feats.unionByName(fdf)
        _impact_map_sql = "map(" + ", ".join(
            f"'{term}', '{imp}'" for term, imp in SO_TERMS_BY_RANK
        ) + ")"
        # entry impact = most severe of the entry's terms = first after the
        # rank sort (reference most_severe_term over tc.terms)
        _f_top_sql = "element_at(feature_terms, 1)"
        # feature entries in the same 74-field layout: SYMBOL/Gene empty,
        # Feature_type the reference label, Feature = the feature id (empty
        # for motif/mirna rows like the reference's transcript_id=None),
        # BIOTYPE = the regulatory feature_type (biotype_override)
        f_p1 = F.expr(
            "concat_ws('|', "
            + ", ".join(
                [
                    "coalesce(__vep_alt, '')",
                    "concat_ws('&', feature_terms)",
                    f"coalesce({_impact_map_sql}[{_f_top_sql}], '')",
                    "''", "''", "__ftype",
                    _sql_esc("feature_id"),
                    "coalesce(feature_biotype, '')",
                ]
                + ["''"] * 9
            )
            + ")"
        )
        f_p2 = F.expr(
            "concat_ws('|', "
            + ", ".join(
                ["''"] * _empty_e2_pre
                + [_sql_variant_class()]
                + ["''"] * _empty_e2_post
            )
            + ")"
        )
        f_best_term = F.expr(
            f"format_string('%02d|%s', {_so_rank_map_sql()}[{_f_top_sql}], "
            f"{_f_top_sql})"
        )
        _ns, _nl, _ni = (
            "cast(null as string)",
            "cast(null as bigint)",
            "cast(null as int)",
        )
        f_struct = F.expr(
            "named_struct("
            + ", ".join(
                f"'{name}', {src}"
                for name, src in [
                    ("feature", "feature_id"),
                    ("gene", _ns), ("symbol", _ns),
                    ("biotype", "feature_biotype"),
                    ("impact", f"{_impact_map_sql}[{_f_top_sql}]"),
                    ("hgvsc", _ns), ("hgvsp", _ns),
                    ("terms", "feature_terms"),
                    ("strand", _ni), ("exon", _ns), ("intron", _ns),
                    ("cdna_position", _nl), ("cds_position", _nl),
                    ("protein_position", _nl), ("amino_acids", _ns),
                    ("codons", _ns), ("distance", _nl),
                    ("cdna_position_str", _ns), ("cds_position_str", _ns),
                    ("protein_position_str", _ns),
                    ("given_ref", _ns), ("used_ref", _ns),
                    ("refseq_offset", _nl), ("bam_edit", _ns),
                    ("source", _ns), ("refseq_match", _ns),
                    ("sift", _ns), ("polyphen", _ns), ("domains", _ns),
                    ("meta", "cast(null as map<string,string>)"),
                ]
            )
            + ")"
        )
        # concat group rank: Transcript(0) < RegulatoryFeature(1) <
        # MotifFeature(2) < None(3) (reference FeatureType::rank,
        # feature_type_rank_matches_vep_concat_order)
        f_rank = (
            F.when(F.col("__ftype") == "RegulatoryFeature", 1)
            .when(F.col("__ftype") == "MotifFeature", 2)
            .otherwise(3)
        )
        # feature rows carry no VCF row (NULL __vrow): the rollup takes it
        # from the transcript arm, which has a row for every VCF row
        pre = pre.unionByName(
            feats.select(
                "__vid",
                f_p1.alias("__e1"),
                f_p2.alias("__e2"),
                f_best_term.alias("__best_term"),
                F.concat_ws(
                    "|", f_best_term, F.coalesce(F.col("feature_id"), F.lit("sv"))
                ).alias("__best_key"),
                f_struct.alias("__best_struct"),
                F.lit(False).alias("__is_tx"),
                f_rank.alias("__ftr"),
                F.col("feature_id").alias("__fid"),
                F.col("__vep_alt"),
            ),
            allowMissingColumns=True,
        )

    # THE per-variant rollup: one group per VCF row id.  It re-shuffles the
    # classified pairs on __vid although the pairing was spread on the id:
    # ArrowEvalPython reports no output partitioning.
    rolled = pre.groupBy("__vid").agg(
        # the VCF row: every row id has a transcript-arm row (the pairing
        # is a left join), and only feature rows carry a NULL __vrow
        F.first("__vrow", ignorenulls=True).alias("__vrow"),
        F.first("__vep_alt").alias("__vep_alt"),
        F.substring_index(F.min("__best_term"), "|", -1).alias("__ms"),
        # CSQ concat order: grouped by feature type (Transcript <
        # RegulatoryFeature < MotifFeature < None — reference FeatureType::
        # rank, feature_type_rank_matches_vep_concat_order), then sorted by
        # FEATURE ID within each group (reference transcript_consequences_
        # sort_by_feature_type_then_id; pinned e2e by test_csq_entries_
        # sorted_by_feature_id_within_feature_type).  Entries are (prefix,
        # suffix) spans; the colocated Existing_variation and Batch-3
        # fields splice in after the join to the colocated aggregate
        F.filter(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__ftr").alias("r"),
                        F.coalesce(F.col("__fid"), F.lit("")).alias("fid"),
                        F.col("__e1").alias("e1"),
                        F.col("__e2").alias("e2"),
                    )
                )
            ),
            lambda x: x["e1"].isNotNull(),
        ).alias("__entries"),
        # typed columns of the most-severe transcript entry: min_by on
        # the rank-prefixed term + transcript_id (reference emits ~80
        # typed columns, annotate_provider.rs:2270-2296; this is the
        # high-value subset)
        F.min_by("__best_struct", "__best_key").alias("__best"),
        F.max(F.when(F.col("__is_tx"), 1).otherwise(0)).alias("__has_tx"),
    ).select(
        "__vid", "__vrow.*", "__vep_alt", "__ms", "__entries", "__best",
        "__has_tx",
    )
    def _sql_ig_p1(alt: str) -> str:
        return (
            "concat_ws('|', "
            + ", ".join(
                [f"coalesce({alt}, '')", "'intergenic_variant'", "'MODIFIER'"]
                + ["''"] * 14
            )
            + ")"
        )

    ig_p2_sql = (
        "concat_ws('|', "
        + ", ".join(
            ["''"] * _empty_e2_pre
            + [_sql_variant_class()]
            + ["''"] * _empty_e2_post
        )
        + ")"
    )
    if feat_frames:
        # reference fallback: feature-only variants still carry the
        # intergenic entry (no transcript was hit)
        rolled = rolled.withColumn(
            "__entries",
            F.when(
                (F.col("__has_tx") == 0) & (F.size("__entries") > 0),
                F.concat(
                    F.col("__entries"),
                    F.array(
                        F.struct(
                            F.lit(3).alias("r"),
                            F.lit("").alias("fid"),
                            F.expr(_sql_ig_p1("__vep_alt")).alias("e1"),
                            F.expr(ig_p2_sql).alias("e2"),
                        )
                    ),
                ),
            ).otherwise(F.col("__entries")),
        )
    # the output row: the VCF row, one matching cache record's columns
    looked_cols = [*vcf_cols, *columns, "matched"]
    # per-variant CSQ field sources: Existing_variation / CLIN_SIG are the
    # '&'-joined colocated-cache aggregates (reference ColocatedVariantFields,
    # annotate_provider.rs:3990-4060; '&' join order here is sorted for
    # determinism), frequency fields the per-variant max of each cache
    # column rendered as strings
    vf = vep_flags if vep_flags is not None else VepFlags()
    _fp = [(o, c) for o, c in VEP_FREQUENCY_COLUMNS if c in columns]
    # flag gating (reference should_process, annotate_provider.rs:1738):
    # a frequency column is even EXTRACTED only when its flag group or
    # max_af wants it, and never when check_existing is off — the whole
    # colocated block is skipped then (:4012)
    if not vf.check_existing:
        _fp = []
    else:
        _fp = [
            (o, c) for o, c in _fp
            if vf.max_af or vf.af_group_enabled(_af_flag_group(o))
        ]
    # ── per-row AF VALUE extraction (reference frequency_fields,
    # annotate_provider.rs:1717-1830): numeric cache columns carry the
    # matched allele's frequency directly (per-allele relational layout);
    # STRING columns are Ensembl 'allele:freq,allele:freq' pair encodings —
    # parse, pick the MATCHED (VEP-minimized) allele's frequency, and for
    # the biallelic global AF interpolate the missing allele as 1−total
    # (extract_af_for_allele + the interpolation arm).  Each column yields
    # a display STRING (__afs: the raw cache slice, native-type rendering
    # for numeric columns) plus a numeric twin (__afn) so MAX_AF compares
    # numerically while CSQ renders the raw value. ──
    _ltypes = dict(hits.dtypes)
    _str_af = {c for _, c in _fp if _ltypes.get(c) == "string"}
    _af_cols = []
    for o, c in _fp:
        if c in _str_af:
            entries = F.filter(
                F.transform(
                    F.split(F.col(c), ","),
                    lambda p: F.struct(
                        F.substring_index(p, ":", 1).alias("a"),
                        F.when(
                            p.contains(":"), F.substring_index(p, ":", -1)
                        ).alias("f"),
                    ),
                ),
                # entries without ':' are skipped (split_once fails)
                lambda s: s["f"].isNotNull(),
            )
            chosen = F.try_element_at(
                F.filter(entries, lambda s: s["a"] == F.col("__vep_alt")),
                F.lit(1),
            )["f"]
            if c == "AF" and "allele_string" in columns:
                ex = F.split(F.col("allele_string"), "/")
                keys = F.transform(entries, lambda s: s["a"])
                missing = F.filter(
                    ex, lambda a: ~F.exists(keys, lambda k: k == a)
                )
                total = F.aggregate(
                    entries,
                    F.lit(0.0),
                    lambda acc, s: acc
                    + F.coalesce(s["f"].cast("double"), F.lit(0.0)),
                )
                interp = (
                    (F.size(ex) == 2)
                    & (F.size(missing) == 1)
                    & (F.try_element_at(missing, F.lit(1)) == F.col("__vep_alt"))
                )
                chosen = F.coalesce(
                    chosen,
                    F.when(interp, (F.lit(1.0) - total).cast("string")),
                )
            vals, valn = chosen, chosen.cast("double")
        else:
            vals = F.col(c).cast("string")
            valn = F.col(c).cast("double")
        _af_cols += [vals.alias(f"__afs_{o}"), valn.alias(f"__afn_{o}")]
    hits_af = hits.select("*", *_af_cols)
    va_aggs = [
        F.concat_ws(
            "&", F.array_sort(F.collect_set(F.col("variation_name")))
        ).alias("__csq_ev"),
        (
            F.concat_ws("&", F.array_sort(F.collect_set(F.col("clin_sig"))))
            if "clin_sig" in columns
            else F.lit("")
        ).alias("__csq_clin"),
        *[
            F.max(F.col(f"__afn_{o}")).alias(f"__csq_afn_{o}") for o, _ in _fp
        ],
        *[
            F.max_by(F.col(f"__afs_{o}"), F.col(f"__afn_{o}")).alias(
                f"__csq_af_{o}"
            )
            for o, _ in _fp
        ],
    ]
    # the colocated aggregate groups the hits by row id and keeps each hit's
    # own fields (the per-row cache columns and AF values the output reads)
    # in the list _attach_hits explodes: one output row per (VCF row,
    # matching cache record), a row without a match once
    hit_fields = [*columns, *[f"__af{k}_{o}" for o, _ in _fp for k in "sn"]]
    va = hits_af.groupBy("__vid").agg(
        *va_aggs, F.collect_list(F.struct(*hit_fields)).alias("__hits")
    )
    grouped = _attach_hits(rolled, va)
    af_by_cache = {c: F.col(f"__csq_af_{o}") for o, c in _fp}
    af_num = {c: F.col(f"__csq_afn_{o}") for o, c in _fp}
    # per-slot CSQ rendering (reference AF_COLUMNS table): the global AF
    # formats %.4f (format_af_4f), gnomAD sub-pop slots render empty
    # outside --everything (emit_in_csq: false — but --everything
    # un-suppresses them: emit_in_csq || flags.everything,
    # annotate_provider.rs:1837), everything else raw
    _suppressed = (
        ()
        if (csq_everything or vf.everything)
        else VEP_CSQ_SUPPRESSED_AF_COLS
    )
    _o_of_c = {c: o for o, c in _fp}
    af_strs_sql = []
    for o, c in VEP_FREQUENCY_COLUMNS:
        if (
            c not in af_by_cache
            or c in _suppressed
            or not vf.af_group_enabled(_af_flag_group(o))
        ):
            af_strs_sql.append("''")
        elif c == "AF":
            # NULL must be guarded explicitly: format_string('%.4f', NULL)
            # returns the literal string 'null' (Java Formatter), not SQL
            # NULL, so a bare coalesce never fires
            oc = _o_of_c[c]
            af_strs_sql.append(
                f"(case when `__csq_afn_{oc}` is not null "
                f"then format_string('%.4f', `__csq_afn_{oc}`) else '' end)"
            )
        else:
            af_strs_sql.append(f"coalesce(`__csq_af_{_o_of_c[c]}`, '')")
    # MAX_AF over sub-population columns only, short pop names; comparisons
    # in double, but the RENDERED value is the winning column's raw string
    # (the reference emits the raw cache slice)
    _sp = [(o, c) for o, c in _fp if c not in VEP_CSQ_GLOBAL_AF_COLS]
    if _sp and vf.max_af:
        if len(_sp) > 1:
            _mx_sql = (
                "greatest(" + ", ".join(f"`__csq_afn_{o}`" for o, _ in _sp) + ")"
            )
        else:
            _mx_sql = f"`__csq_afn_{_sp[0][0]}`"
        max_af_sql = (
            "coalesce("
            + ", ".join(
                f"(case when `__csq_afn_{o}` = {_mx_sql} "
                f"then `__csq_af_{o}` end)"
                for o, _ in _sp
            )
            + ", '')"
        )
        max_pops_sql = (
            "concat_ws('&', filter(array("
            + ", ".join(
                f"(case when `__csq_afn_{o}` = {_mx_sql} then '{c}' end)"
                for o, c in _sp
            )
            + "), x -> x is not null))"
        )
    else:
        max_af_sql, max_pops_sql = "''", "''"
    batch3_sql = (
        "concat_ws('|', "
        + ", ".join(
            af_strs_sql
            + [
                max_af_sql,
                max_pops_sql,
                "coalesce(__csq_clin, '')" if vf.check_existing else "''",
                "''", "''", "''",  # SOMATIC / PHENO / PUBMED
                # --everything: the MOTIF block moves to the trailing five
                # slots (always empty, like the reference's
                # `{batch3_suffix}|||||`)
                *(["''"] * 5 if csq_everything else []),
            ]
        )
        + ")"
    )
    ev_sql = "coalesce(__csq_ev, '')" if vf.check_existing else "''"
    intergenic = F.lit("intergenic_variant")
    # the whole CSQ render — per-entry splice lambda, intergenic fallback,
    # Batch-3 suffix — is ONE SQL parse (formerly ~300 Column round trips)
    csq_col = F.expr(
        "case when size(__entries) > 0 then array_join(transform(__entries, "
        f"x -> concat_ws('|', x.e1, {ev_sql}, x.e2, {batch3_sql})), ',') "
        f"else concat_ws('|', {_sql_ig_p1('__vep_alt')}, {ev_sql}, "
        f"{ig_p2_sql}, {batch3_sql}) end"
    ).alias("CSQ")
    ms_col = F.coalesce(F.col("__ms"), intergenic).alias("most_severe_consequence")
    _ev_typed = (
        F.coalesce(F.col("variation_name"), F.lit(""))
        if vf.check_existing
        else F.lit("")
    )
    if not full_schema:
        return grouped.select(
            *looked_cols,
            ms_col,
            _ev_typed.alias("existing_variation"),
            csq_col,
            F.coalesce(F.col("__best.impact"), F.lit("MODIFIER")).alias("impact"),
            F.col("__best.symbol").alias("gene_symbol"),
            F.col("__best.gene").alias("gene_stable_id"),
            F.col("__best.feature").alias("feature"),
            F.col("__best.biotype").alias("biotype"),
            F.col("__best.terms").alias("consequence_terms"),
            F.col("__best.hgvsc").alias("hgvsc"),
            F.col("__best.hgvsp").alias("hgvsp"),
        )

    # ── full 93-column layout (annotate_provider.rs:145-720) ──
    def _cache(name: str, typ: str = "string") -> "F.Column":
        return (
            F.col(name).cast(typ) if name in looked_cols else F.lit(None).cast(typ)
        )

    def _coloc(name: str, typ: str = "string") -> "F.Column":
        # colocated-variant passthrough: the whole block types NULL when
        # check_existing is off (reference :4012 — variant_fields default)
        if not vf.check_existing:
            return F.lit(None).cast(typ)
        return _cache(name, typ)

    # typed frequencies read the per-row extracted values (__afn: native
    # numerics AND parsed pair-string matched-allele frequencies alike);
    # a column types NULL when the cache lacks it OR its flag group is off
    # (reference af_values filled only under af_group_enabled, :1787)
    _extracted = {o for o, _ in _fp}
    freq_cols = [
        (
            F.col(f"__afn_{o}").cast("float")
            if o in _extracted and vf.af_group_enabled(_af_flag_group(o))
            else F.lit(None).cast("float")
        ).alias(o)
        for o, c in VEP_FREQUENCY_COLUMNS
    ]
    # MAX_AF excludes the three GLOBAL frequencies (AF / gnomADe / gnomADg:
    # max_af_pop None in the reference's AF_COLUMNS table,
    # annotate_provider.rs:812-999) and MAX_AF_POPS names pops by their
    # SHORT cache names (AFR, gnomADe_AFR, ...)
    _subpops = [
        (o, c) for o, c in _fp if c not in VEP_CSQ_GLOBAL_AF_COLS
    ]
    if _subpops and vf.max_af:
        vals = [F.col(f"__afn_{o}").cast("float") for o, _ in _subpops]
        max_af = F.greatest(*vals) if len(vals) > 1 else vals[0]
        max_pops = F.concat_ws(
            "&",
            F.filter(
                F.array(*[
                    F.when(F.col(f"__afn_{o}").cast("float") == max_af, F.lit(c))
                    for o, c in _subpops
                ]),
                lambda x: x.isNotNull(),
            ),
        )
        max_af_cols = [max_af.alias("MAX_AF"), max_pops.alias("MAX_AF_POPS")]
    else:
        max_af_cols = [
            F.lit(None).cast("float").alias("MAX_AF"),
            F.lit(None).cast("string").alias("MAX_AF_POPS"),
        ]
    paired_tx = F.col("__best").isNotNull()

    # SIFT/PolyPhen/DOMAINS: per-entry values computed on the paired frame
    # above ride the best-transcript struct into the typed layout
    sift_col = F.col("__best.sift").alias("SIFT")
    polyphen_col = F.col("__best.polyphen").alias("PolyPhen")
    domains_col = F.col("__best.domains").alias("DOMAINS")

    meta_backed = {o for o, _ in VEP_TX_META_COLUMNS} | {"FLAGS"}
    null_tx_cols = []
    for c in VEP_NULL_TRANSCRIPT_COLUMNS:
        if c == "SIFT":
            null_tx_cols.append(sift_col)
        elif c == "PolyPhen":
            null_tx_cols.append(polyphen_col)
        elif c == "DOMAINS":
            null_tx_cols.append(domains_col)
        elif c in meta_backed:
            null_tx_cols.append(F.col("__best.meta")[c].alias(c))
        else:
            null_tx_cols.append(F.lit(None).cast("string").alias(c))
    return grouped.select(
        *vcf_cols,
        csq_col,
        ms_col,
        # ── transcript-level (computed) ──
        F.col("__vep_alt").alias("Allele"),
        F.concat_ws("&", F.col("__best.terms")).alias("Consequence"),
        F.coalesce(F.col("__best.impact"), F.lit("MODIFIER")).alias("IMPACT"),
        F.col("__best.symbol").alias("SYMBOL"),
        F.col("__best.gene").alias("Gene"),
        F.when(paired_tx, F.lit("Transcript")).alias("Feature_type"),
        F.col("__best.feature").alias("Feature"),
        F.col("__best.biotype").alias("BIOTYPE"),
        F.col("__best.exon").alias("EXON"),
        F.col("__best.intron").alias("INTRON"),
        F.col("__best.hgvsc").alias("HGVSc"),
        F.col("__best.hgvsp").alias("HGVSp"),
        # reference CSQ position columns are formatted span STRINGS
        # (annotate_provider.rs:222-239 list_utf8; '?'/span forms from
        # format_coords / compute_cdna_position)
        F.col("__best.cdna_position_str").alias("cDNA_position"),
        F.col("__best.cds_position_str").alias("CDS_position"),
        F.col("__best.protein_position_str").alias("Protein_position"),
        F.col("__best.amino_acids").alias("Amino_acids"),
        F.col("__best.codons").alias("Codons"),
        _ev_typed.alias("Existing_variation"),
        F.col("__best.distance").alias("DISTANCE"),
        F.col("__best.strand").alias("STRAND"),
        F.expr(_sql_variant_class()).alias("VARIANT_CLASS"),
        F.coalesce(F.col("__best.meta")["CANONICAL"], _cache("canonical")).alias("CANONICAL"),
        F.lit(None).cast("long").alias("HGVS_OFFSET"),
        # transcript-level columns needing unmodeled external sources
        # (SIFT/PolyPhen filled from the sift context table when provided)
        *null_tx_cols,
        # ── frequency (29) ──
        *freq_cols,
        *max_af_cols,
        # ── variant-level (9) ── cache passthrough when the variation
        # cache carries the column (somatic/pheno flags, pubmed ids)
        _coloc("clin_sig").alias("CLIN_SIG"),
        *[
            (
                _coloc(c.lower())
                if c in ("SOMATIC", "PHENO")
                else (
                    _coloc("pubmed")
                    if c == "PUBMED" and vf.pubmed
                    else F.lit(None).cast("string")
                )
            ).alias(c)
            for c in VEP_NULL_VARIANT_COLUMNS
        ],
        # ── cache-only passthrough (7) ──
        _coloc("clin_sig_allele").alias("clin_sig_allele"),
        _coloc("clinical_impact").alias("clinical_impact"),
        _coloc("minor_allele").alias("minor_allele"),
        _coloc("minor_allele_freq", "float").alias("minor_allele_freq"),
        _coloc("clinvar_ids").alias("clinvar_ids"),
        _coloc("cosmic_ids").alias("cosmic_ids"),
        _coloc("dbsnp_ids").alias("dbsnp_ids"),
        # ── RefSeq provenance sextet, LAST like the reference layout
        # (annotate_provider.rs:640-720, values :4266-4285):
        # REFSEQ_MATCH/SOURCE are transcript-cache passthrough, the
        # offset/ref trio is computed by the consequence engine, BAM_EDIT
        # renders the status uppercased ──
        F.col("__best.refseq_match").alias("REFSEQ_MATCH"),
        F.col("__best.source").alias("SOURCE"),
        F.col("__best.refseq_offset").alias("REFSEQ_OFFSET"),
        F.col("__best.given_ref").alias("GIVEN_REF"),
        F.col("__best.used_ref").alias("USED_REF"),
        F.col("__best.bam_edit").alias("BAM_EDIT"),
    )


def consequence_regions(
    vcf: DataFrame,
    transcripts: DataFrame,
    upstream_distance: int = 5000,
    downstream_distance: int = 5000,
) -> DataFrame:
    """Strictly positional variant-vs-transcript region classification —
    the SQL-expressible core of the consequence engine (the codon-level
    engine in ``functions.consequence`` refines these classes with sequence
    context).  Pure JVM expressions end-to-end: interval join on
    ``chrom`` + distance window, then a CASE cascade.  Strand-aware
    up/downstream (reference ``transcript_consequence.rs`` up/downstream
    distances are configurable; default 5 kb both sides, the
    reference engine default (TranscriptConsequenceEngine::new(5000, 5000),
    transcript_consequence.rs:807-811) matching Ensembl VEP).

    Terms emitted: ``upstream_gene_variant``, ``downstream_gene_variant``,
    ``non_coding_transcript_variant`` (biotype != protein_coding),
    ``5_prime_UTR_variant``, ``3_prime_UTR_variant``,
    ``coding_sequence_variant``.

    Output: vcf cols + ``transcript_id`` + ``region_term``.
    """
    _check_contract(vcf, VCF_REQUIRED, "vcf")
    _check_contract(
        transcripts, ("transcript_id", "chrom", "start", "end", "strand"), "transcripts"
    )
    v = vcf
    reach = max(upstream_distance, downstream_distance)
    t = transcripts.select(
        F.col("chrom").alias("__tc"),
        F.col("start").alias("__ts"),
        F.col("end").alias("__te"),
        F.col("strand").alias("__strand"),
        F.col("biotype").alias("__biotype")
        if "biotype" in transcripts.columns
        else F.lit("protein_coding").alias("__biotype"),
        F.col("cds_start").alias("__cs")
        if "cds_start" in transcripts.columns
        else F.col("start").alias("__cs"),
        F.col("cds_end").alias("__ce")
        if "cds_end" in transcripts.columns
        else F.col("end").alias("__ce"),
        "transcript_id",
    )
    joined = v.join(
        F.broadcast(t),
        (F.col("chrom") == F.col("__tc"))
        & (F.col("end") >= F.col("__ts") - reach)
        & (F.col("start") <= F.col("__te") + reach),
        "inner",
    )
    fwd = F.col("__strand") >= 0
    inside = (F.col("end") >= F.col("__ts")) & (F.col("start") <= F.col("__te"))
    before = F.col("end") < F.col("__ts")  # 5' side on + strand
    dist_before = F.col("__ts") - F.col("end")
    dist_after = F.col("start") - F.col("__te")
    term = (
        F.when(
            inside,
            F.when(F.col("__biotype") != "protein_coding", "non_coding_transcript_variant")
            .when(
                F.col("end") < F.col("__cs"),
                F.when(fwd, "5_prime_UTR_variant").otherwise("3_prime_UTR_variant"),
            )
            .when(
                F.col("start") > F.col("__ce"),
                F.when(fwd, "3_prime_UTR_variant").otherwise("5_prime_UTR_variant"),
            )
            .otherwise("coding_sequence_variant"),
        )
        .when(
            before,
            F.when(fwd & (dist_before <= upstream_distance), "upstream_gene_variant").when(
                ~fwd & (dist_before <= downstream_distance), "downstream_gene_variant"
            ),
        )
        .otherwise(
            F.when(fwd & (dist_after <= downstream_distance), "downstream_gene_variant").when(
                ~fwd & (dist_after <= upstream_distance), "upstream_gene_variant"
            )
        )
    )
    return (
        joined.withColumn("region_term", term)
        .filter(F.col("region_term").isNotNull())
        .select(*vcf.columns, "transcript_id", "region_term")
    )


#: miss-worklist constants (reference ``miss_worklist.rs:8-12``)
MISS_COALESCE_GAP = 1_000_000
MISS_MAX_INTERVALS = 50


def miss_worklist(
    looked: DataFrame,
    matched_col: str = "matched",
    coalesce_gap: int = MISS_COALESCE_GAP,
    max_intervals: int = MISS_MAX_INTERVALS,
) -> DataFrame:
    """Context-load scoping intervals for cache-miss variants (reference
    ``miss_worklist.rs:1-60``): take the unmatched rows of a
    ``lookup_variants`` result, coalesce per-chrom intervals whose gaps are
    < ``coalesce_gap`` (1 Mb), and — when a chromosome still exceeds
    ``max_intervals`` (50) — collapse it to a single chrom-wide bound, so
    the downstream context-table read stays a bounded OR-of-ranges filter.

    Spark-side these intervals become min/max predicates on the
    chrom-partitioned context parquet: partition pruning eliminates other
    chromosomes, row-group statistics skip ranges outside the worklist —
    the same pruning the reference achieves with generated SQL filters.

    Output: ``(chrom, start, end, n_variants)`` one row per interval.
    """
    from .intervals import merge as _merge

    misses = looked.filter(~F.col(matched_col)).select(
        F.col("chrom").alias("contig"),
        F.col("start").cast("long").alias("pos_start"),
        F.col("end").cast("long").alias("pos_end"),
    )
    merged = _merge(misses, min_dist=coalesce_gap)
    counts = merged.groupBy("contig").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min("pos_start").alias("__lo"),
        F.max("pos_end").alias("__hi"),
        F.sum("n_intervals").alias("__nv"),
    )
    kept = (
        merged.join(counts.filter(F.col("__n") <= max_intervals), "contig")
        .select(
            F.col("contig").alias("chrom"),
            F.col("pos_start").alias("start"),
            F.col("pos_end").alias("end"),
            F.col("n_intervals").alias("n_variants"),
        )
    )
    collapsed = counts.filter(F.col("__n") > max_intervals).select(
        F.col("contig").alias("chrom"),
        F.col("__lo").alias("start"),
        F.col("__hi").alias("end"),
        F.col("__nv").alias("n_variants"),
    )
    return kept.unionByName(collapsed)


def propagate_gene_hgnc(transcripts: DataFrame) -> DataFrame:
    """Gene-symbol / HGNC-id propagation across a transcript table — the
    DataFrame re-expression of the reference's buffer-local machinery
    (``apply_buffer_local_hgnc_propagation``,
    ``annotate_provider.rs:7477-7548``): VEP donates NATIVE HGNC ids to
    same-symbol rows and fills missing symbol/source/HGNC from same-gene
    donors.

    Rules (pinned by the reference's test_buffer_local_hgnc_* batteries):

    * only ``hgnc_id_native`` values seed the symbol→HGNC donor map —
      cache-promoted effective ids never propagate;
    * effective ``hgnc_id`` = native → existing effective → symbol donor →
      same-``gene_stable_id`` native donor;
    * missing ``gene_symbol`` / ``gene_symbol_source`` fill from the
      same-gene donor.

    Donor SCOPE: when the table carries coordinates (``chrom``/``start``/
    ``end``), donation is scoped to VEP's 1 Mb transcript-cache regions
    (``VEP_TRANSCRIPT_CACHE_REGION_SIZE_BP``, ``annotate_provider.rs:
    6894``, ``transcript_cache_regions`` ``:7261``) — a donor reaches a
    same-symbol transcript only where their touched-region sets intersect,
    reproducing the NET behavior of the reference's stateful buffer
    machinery (carry-over within a region, pruning across regions —
    ``test_stateful_buffer_local_transcripts_{carry,keep,prune}``)
    without a state machine: both sides explode to their regions
    (transcripts span ≤ a few Mb → a handful of rows each) and the donor
    maps stay gene-count sized → broadcast.  Without coordinates the maps
    are global.  Donor choice is deterministic: the lexicographically-
    first ``transcript_id`` with a value wins (the reference's encounter
    order is buffer-dependent).
    """
    _check_contract(transcripts, ("transcript_id",), "transcripts")
    cols = transcripts.columns

    def _c(name: str) -> "F.Column":
        return F.col(name) if name in cols else F.lit(None).cast("string")

    scoped = all(c in cols for c in ("chrom", "start", "end"))
    base = transcripts.withColumn("__hgnc_native", _c("hgnc_id_native")).withColumn(
        "__hgnc_eff", _c("hgnc_id")
    )
    region_mb = 1_000_000
    if scoped:
        def _rg(c: str) -> "F.Column":
            # NULL coordinates must stay NULL (greatest() IGNORES nulls and
            # would silently park unplaced rows in region 0)
            v = F.col(c).cast("long")
            return F.when(
                v.isNotNull(),
                F.floor(F.greatest(v - 1, F.lit(0)) / F.lit(region_mb)),
            ).cast("long")

        # explode_OUTER: a row with NULL coordinates (sequence(NULL,..) is
        # NULL) must stay in the frame — it cannot donate or receive across
        # regions (its __rkey is NULL, never equi-matching) but keeps its
        # own native/effective values through the final coalesce
        regioned = base.withColumn(
            "__region", F.explode_outer(F.sequence(_rg("start"), _rg("end")))
        ).withColumn("__rkey", F.concat_ws(":", F.col("chrom"), F.col("__region")))
        sym_keys = [F.col("__rkey").alias("__sk_r")]
        gene_keys = [F.col("__rkey").alias("__gk_r")]
    else:
        regioned = base
        sym_keys, gene_keys = [], []
    # symbol → native HGNC donor map (first transcript_id with a value),
    # per cache region when scoped
    by_symbol = (
        regioned.filter(
            F.col("__hgnc_native").isNotNull() & _c("gene_symbol").isNotNull()
        )
        .groupBy(*sym_keys, _c("gene_symbol").alias("__sym"))
        .agg(F.min_by("__hgnc_native", F.col("transcript_id")).alias("__sym_hgnc"))
    )
    # gene_stable_id → first non-null symbol/source/native donors
    by_gene = (
        regioned.filter(_c("gene_stable_id").isNotNull())
        .groupBy(*gene_keys, _c("gene_stable_id").alias("__gid"))
        .agg(
            F.min_by(
                _c("gene_symbol"),
                F.when(_c("gene_symbol").isNotNull(), F.col("transcript_id")),
            ).alias("__g_sym"),
            F.min_by(
                _c("gene_symbol_source"),
                F.when(_c("gene_symbol_source").isNotNull(), F.col("transcript_id")),
            ).alias("__g_src"),
            F.min_by(
                F.col("__hgnc_native"),
                F.when(F.col("__hgnc_native").isNotNull(), F.col("transcript_id")),
            ).alias("__g_hgnc"),
        )
    )
    if scoped:
        # receiver regions join the scoped maps; a transcript touching
        # multiple regions keeps the lexicographically-least donor value
        joined = (
            regioned.join(
                F.broadcast(by_symbol),
                (_c("gene_symbol") == F.col("__sym"))
                & (F.col("__rkey") == F.col("__sk_r")),
                "left",
            )
            .join(
                F.broadcast(by_gene),
                (_c("gene_stable_id") == F.col("__gid"))
                & (F.col("__rkey") == F.col("__gk_r")),
                "left",
            )
        )
        donors = joined.groupBy("transcript_id").agg(
            F.min("__sym_hgnc").alias("__sym_hgnc"),
            F.min("__g_sym").alias("__g_sym"),
            F.min("__g_src").alias("__g_src"),
            F.min("__g_hgnc").alias("__g_hgnc"),
        )
        out = base.join(F.broadcast(donors), "transcript_id", "left")
    else:
        out = base.join(
            F.broadcast(by_symbol), _c("gene_symbol") == F.col("__sym"), "left"
        ).join(F.broadcast(by_gene), _c("gene_stable_id") == F.col("__gid"), "left")
    out = out.withColumn(
        "hgnc_id",
        F.coalesce(
            F.col("__hgnc_native"), F.col("__hgnc_eff"),
            F.col("__sym_hgnc"), F.col("__g_hgnc"),
        ),
    ).withColumn("gene_symbol", F.coalesce(_c("gene_symbol"), F.col("__g_sym")))
    if "gene_symbol_source" in cols:
        out = out.withColumn(
            "gene_symbol_source",
            F.coalesce(F.col("gene_symbol_source"), F.col("__g_src")),
        )
    return out.drop(
        "__hgnc_native", "__hgnc_eff", "__sym", "__sym_hgnc",
        "__gid", "__g_sym", "__g_src", "__g_hgnc", "__region", "__rkey",
        "__sk_r", "__gk_r",
    )


def regulatory_features(
    vcf: DataFrame,
    regulatory: DataFrame | None = None,
    motifs: DataFrame | None = None,
    chrom_normalize: bool | None = None,
) -> DataFrame:
    """Regulatory/motif feature annotation (the regulatory arm of the
    reference's ``annotate_vep`` options, ``annotate_provider.rs`` regulatory
    / motif context tables): overlap each variant with

    * ``regulatory`` ``(chrom, start, end, feature_id [, feature_type])`` →
      ``regulatory_region_variant`` for EVERY type — feature_type (incl.
      ``TF_binding_site``) feeds only the BIOTYPE column,
    * ``motifs`` ``(chrom, start, end, feature_id)`` →
      ``TF_binding_site_variant`` (the only source of that term).

    A deletion that fully encompasses a regulatory feature additionally
    emits ``regulatory_region_ablation`` (VEP feature_ablation =
    complete_overlap_feature AND deletion; reference
    ``transcript_consequence.rs:1498-1504``).  Duplicate cache rows for one
    ``feature_id`` yield a single entry (reference
    ``regulatory_duplicate_stable_ids_emit_single_entry``).

    Both context tables broadcast (they are genome-annotation sized, not
    data-sized).  Output: vcf cols + ``feature_id`` + ``feature_term`` +
    ``feature_biotype`` (the reference's ``biotype_override`` — the
    regulatory feature_type verbatim: promoter, enhancer, TF_binding_site,
    open_chromatin_region, …; NULL for untyped features and motif rows —
    ``transcript_consequence.rs`` test_regulatory_feature_biotype_*); one
    row per (variant, overlapped feature, term).
    """
    _check_contract(vcf, VCF_REQUIRED, "vcf")
    if regulatory is None and motifs is None:
        raise ValueError("at least one of regulatory/motifs is required")
    raw_pos, raw_end = F.col("start").cast("long"), F.col("end").cast("long")
    has_alleles = "ref" in vcf.columns and "alt" in vcf.columns
    is_deletion = (
        (F.length("ref") > F.length("alt")) | (F.col("alt") == "-")
        if has_alleles
        else F.lit(False)
    )
    # feature_overlaps (transcript_consequence.rs:2997-3003) runs in the
    # VEP-MINIMIZED coordinate space — VariantInput::from_vcf prefix/suffix
    # trims before any feature check, so an anchored deletion's anchor base
    # touching a feature's last base does NOT hit it.  Anchored VCF alleles
    # are normalized ONCE in a projection BEFORE the join (the three Arrow
    # UDFs fuse into a single ArrowEvalPython pass; an expression inlined
    # into each join branch would run the Arrow round-trip once per
    # feature table).  Pre-normalized input (ref '-'/'' insertions) passes
    # through untouched.
    if has_alleles:
        from ..functions.alleles import (
            vep_allele_udf, vep_norm_end_udf, vep_norm_start_udf,
        )

        pre_norm = (
            (F.col("ref") == "-") | (F.col("alt") == "-")
            | (F.length(F.coalesce(F.col("ref"), F.lit(""))) == 0)
            | (F.length(F.coalesce(F.col("alt"), F.lit(""))) == 0)
        )
        v = vcf.select(
            "*",
            F.when(pre_norm, raw_pos)
            .otherwise(vep_norm_start_udf(raw_pos, F.col("ref"), F.col("alt")))
            .alias("__nvs"),
            F.when(pre_norm, raw_end)
            .otherwise(vep_norm_end_udf(raw_pos, F.col("ref"), F.col("alt")))
            .alias("__nve"),
            # VEP's insertion overlap is STRICT: an insertion at the
            # feature start boundary does not touch it
            # (transcript_consequence.rs
            # regulatory_insertion_at_feature_boundary_excluded)
            F.when(
                pre_norm,
                (F.col("ref") == "-")
                | (F.length(F.coalesce(F.col("ref"), F.lit(""))) == 0),
            )
            .otherwise(
                F.substring_index(
                    vep_allele_udf(F.col("ref"), F.col("alt")), "/", 1
                )
                == "-"
            )
            .alias("__nins"),
        )
    else:
        v = vcf.select(
            "*",
            raw_pos.alias("__nvs"),
            raw_end.alias("__nve"),
            F.lit(False).alias("__nins"),
        )
    pos, vend = F.col("__nvs"), F.col("__nve")
    feat_overlap = F.when(
        F.col("__nins"), (pos > F.col("__fs")) & (pos <= F.col("__fe"))
    ).otherwise((pos <= F.col("__fe")) & (vend >= F.col("__fs")))

    # ONE tagged broadcast table for both feature kinds → ONE join (the
    # two-join shape paid the normalization and the probe twice)
    feat_parts = []
    if regulatory is not None:
        _check_contract(regulatory, ("chrom", "start", "end", "feature_id"), "regulatory")
        has_type = "feature_type" in regulatory.columns
        feat_parts.append(
            regulatory.select(
                F.col("chrom").alias("__fc"),
                F.col("start").cast("long").alias("__fs"),
                F.col("end").cast("long").alias("__fe"),
                F.col("feature_id").alias("feature_id"),
                # biotype_override: the feature_type verbatim when the
                # cache is typed, NULL otherwise (reference
                # regulatory_with_type vs regulatory test constructors)
                (
                    F.col("feature_type").cast("string")
                    if has_type
                    else F.lit(None).cast("string")
                ).alias("feature_biotype"),
                F.lit("reg").alias("__fkind"),
            ).dropDuplicates(["feature_id"])
        )
    if motifs is not None:
        _check_contract(motifs, ("chrom", "start", "end", "feature_id"), "motifs")
        feat_parts.append(
            motifs.select(
                F.col("chrom").alias("__fc"),
                F.col("start").cast("long").alias("__fs"),
                F.col("end").cast("long").alias("__fe"),
                F.col("feature_id").alias("feature_id"),
                F.lit(None).cast("string").alias("feature_biotype"),
                F.lit("motif").alias("__fkind"),
            )
        )
    feats = feat_parts[0]
    for p in feat_parts[1:]:
        feats = feats.unionByName(p)
    _norm = (
        chrom_normalize
        if chrom_normalize is not None
        else any(
            _chrom_forms_differ(vcf, t)
            for t in (regulatory, motifs)
            if t is not None
        )
    )
    _fc_eq = (
        _chrom_key(F.col("chrom")) == _chrom_key(F.col("__fc"))
        if _norm
        else F.col("chrom") == F.col("__fc")
    )
    hits = v.join(F.broadcast(feats), _fc_eq & feat_overlap)
    # term fan-out from the single hit set:
    # * reg rows → regulatory_region_variant for EVERY type — feature_type
    #   (incl. TF_binding_site) only feeds BIOTYPE; TF_binding_site_variant
    #   comes exclusively from the motif table (reference
    #   append_regulatory_terms inserts only RegulatoryRegionVariant,
    #   transcript_consequence.rs:1458-1516; round-10 feature grid)
    # * deletions fully covering a reg feature add
    #   regulatory_region_ablation (VEP complete_overlap_feature AND
    #   deletion)
    term = F.when(
        F.col("__fkind") == "motif", F.lit("TF_binding_site_variant")
    ).otherwise(F.lit("regulatory_region_variant"))
    base = hits.select(
        *vcf.columns, "feature_id", term.alias("feature_term"), "feature_biotype"
    )
    abl = hits.filter(
        (F.col("__fkind") == "reg")
        & is_deletion
        & (pos <= F.col("__fs"))
        & (vend >= F.col("__fe"))
    ).select(
        *vcf.columns,
        "feature_id",
        F.lit("regulatory_region_ablation").alias("feature_term"),
        "feature_biotype",
    )
    return base.unionByName(abl)


def structural_terms(
    vcf: DataFrame, structural: DataFrame, chrom_normalize: bool | None = None
) -> DataFrame:
    """Structural-variant consequence terms from a structural context table
    ``(chrom, start, end, feature_kind, event_kind [, feature_id])`` —
    the reference's SV arm of ``annotate_vep`` (context parse + kind/event
    vocabulary ``annotate_provider.rs:5338-5356``; term assignment
    ``transcript_consequence.rs:1685-1770``):

    * ``transcript`` × ablation/amplification → ``transcript_ablation`` /
      ``transcript_amplification``; × elongation/truncation →
      ``feature_elongation`` / ``feature_truncation``
    * ``generic`` × elongation/truncation → the feature_* terms
    * ``regulatory`` × ablation/amplification →
      ``regulatory_region_ablation`` / ``regulatory_region_amplification``
    * ``tfbs`` × ablation/amplification → ``TFBS_ablation`` /
      ``TFBS_amplification``

    Kind/event accept the reference's aliases (``tx``, ``del``, ``dup``,
    ``motif``, …); unknown values are skipped like the reference's parser.
    Output: vcf cols + ``feature_term``, one row per distinct
    (variant, term).  The context broadcasts (annotation-sized)."""
    _check_contract(vcf, VCF_REQUIRED, "vcf")
    _check_contract(
        structural, ("chrom", "start", "end", "feature_kind", "event_kind"), "structural"
    )
    kind = F.lower(F.col("feature_kind"))
    event = F.lower(F.col("event_kind"))
    knorm = (
        F.when(kind.isin("transcript", "tx"), "transcript")
        .when(kind.isin("regulatory", "reg"), "regulatory")
        .when(kind.isin("tfbs", "motif"), "tfbs")
        .when(kind.isin("feature", "generic"), "generic")
    )
    enorm = (
        F.when(event.isin("ablation", "deletion", "del"), "ablation")
        .when(event.isin("amplification", "duplication", "dup", "amp"), "amplification")
        .when(event.isin("elongation", "elongate"), "elongation")
        .when(event.isin("truncation", "truncate"), "truncation")
    )
    term = (
        F.when((knorm == "transcript") & (enorm == "ablation"), "transcript_ablation")
        .when((knorm == "transcript") & (enorm == "amplification"), "transcript_amplification")
        .when(knorm.isin("transcript", "generic") & (enorm == "elongation"), "feature_elongation")
        .when(knorm.isin("transcript", "generic") & (enorm == "truncation"), "feature_truncation")
        .when((knorm == "regulatory") & (enorm == "ablation"), "regulatory_region_ablation")
        .when(
            (knorm == "regulatory") & (enorm == "amplification"),
            "regulatory_region_amplification",
        )
        .when((knorm == "tfbs") & (enorm == "ablation"), "TFBS_ablation")
        .when((knorm == "tfbs") & (enorm == "amplification"), "TFBS_amplification")
    )
    sv = (
        structural.select(
            F.col("chrom").alias("__fc"),
            F.col("start").cast("long").alias("__fs"),
            F.col("end").cast("long").alias("__fe"),
            term.alias("feature_term"),
        )
        .where(F.col("feature_term").isNotNull())
    )
    raw_pos, raw_end = F.col("start").cast("long"), F.col("end").cast("long")
    # SV overlap runs in the VEP-MINIMIZED coordinate space like every
    # engine-level check (plain overlaps() on VariantInput.start/end,
    # transcript_consequence.rs:1384/1548/1698 — no insertion special
    # case); anchored alleles normalize once in a projection
    if "ref" in vcf.columns and "alt" in vcf.columns:
        from ..functions.alleles import vep_norm_end_udf, vep_norm_start_udf

        pre_norm = (
            (F.col("ref") == "-") | (F.col("alt") == "-")
            | (F.length(F.coalesce(F.col("ref"), F.lit(""))) == 0)
            | (F.length(F.coalesce(F.col("alt"), F.lit(""))) == 0)
        )
        v = vcf.select(
            "*",
            F.when(pre_norm, raw_pos)
            .otherwise(vep_norm_start_udf(raw_pos, F.col("ref"), F.col("alt")))
            .alias("__svs"),
            F.when(pre_norm, raw_end)
            .otherwise(vep_norm_end_udf(raw_pos, F.col("ref"), F.col("alt")))
            .alias("__sve"),
        )
    else:
        v = vcf.select("*", raw_pos.alias("__svs"), raw_end.alias("__sve"))
    _fc_eq = (
        _chrom_key(F.col("chrom")) == _chrom_key(F.col("__fc"))
        if (
            chrom_normalize
            if chrom_normalize is not None
            else _chrom_forms_differ(vcf, structural)
        )
        else F.col("chrom") == F.col("__fc")
    )
    # VariantInput::from_vcf encodes a pure insertion as the POINT
    # (new_start, new_start) — the insertion point itself, NOT the
    # (start, start-1) pair the vep_norm functions emit
    # (transcript_consequence.rs:89-96: "Pure insertion: the affected
    # position is the insertion point itself").  An insertion at the base
    # AFTER a feature's last base therefore does NOT hit it, while one at
    # the last base does.  span = [vs, max(vs, ve)].
    _lo = F.col("__svs")
    _hi = F.greatest(F.col("__svs"), F.col("__sve"))
    return (
        v.join(
            F.broadcast(sv),
            _fc_eq & (_lo <= F.col("__fe")) & (_hi >= F.col("__fs")),
        )
        .select(*vcf.columns, "feature_term")
        .distinct()
    )
