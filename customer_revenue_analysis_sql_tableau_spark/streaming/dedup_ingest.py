"""Incremental MinHash dedup at ingest time: new documents stream in,
each micro-batch is checked against the *growing* corpus LSH index, and
near-dup pairs are emitted as they are discovered.

This is the shape a training-data pipeline actually runs at 100 TB —
the corpus is too large to re-dedup from scratch per delivery, so the
banded MinHash signature table is a persistent index (tiny next to the
corpus: NUM_PERM longs per doc) and each incoming batch pays only

    signature(batch) + band-join(batch × index) + verify(candidates)

with the index and shingle store appended afterwards so later batches
also catch dups against *earlier streamed* docs, not just the seed
corpus. Within-batch duplicates are caught by unioning the batch's own
bands into the join's right side.

The exact-Jaccard verification joins only the candidate docs' shingles
(the shingle store is id-filterable parquet; at cluster scale this is
the same table bucketed by doc_id), so verification cost is bounded by
candidate count, never corpus size.

pytest proves the streamed pair set over (seed ∪ streamed) equals the
batch ``dedup_minhash_lsh`` pair set minus seed-internal pairs — i.e.
ingest-time dedup finds exactly the pairs batch dedup would, for every
pair involving at least one streamed document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.decontamination import containment_vs_eval, doc_kgrams
from ..operators.dedup import (
    JACCARD_T,
    LSH_BANDS,
    NUM_PERM,
    _doc_shingles,
    _jaccard_pairs_from_candidates,
    _minhash_signatures_from,
)
from ..operators.pipeline import QUALITY_T
from ..operators.text import quality_scored
from ..session import drain, read_file_stream
from .statefs import list_subdirs


def _band_explode(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) rows — one per band, same geometry/hash as
    ``dedup_minhash_lsh`` so index and batch bucket identically."""
    rows_per_band = NUM_PERM // LSH_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.col(f"h{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ]
                ).alias("bucket"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _store_paths(
    spark: SparkSession, path: str, before_batch: int | None = None
) -> list[str]:
    """Full URIs of the store's writer subdirectories (``b_seed`` plus
    ``b_<k>``), restricted to ``k < before_batch`` when given.

    The restriction is the retry-safety contract: a batch retried after
    a partial write must never read its OWN leftover ``b_<batch_id>``
    output (it already unions its in-memory frame), or its docs' shingle
    counts double and every Jaccard denominator involving them corrupts.
    Mirrors ``_upsert_batch``'s predecessor-version discipline."""
    out = []
    for name, uri in list_subdirs(spark, path):
        if name == "b_seed":
            out.append(uri)
        elif name.startswith("b_") and name[2:].isdigit():
            if before_batch is None or int(name[2:]) < before_batch:
                out.append(uri)
    return out


def _read_store(
    spark: SparkSession,
    path: str,
    before_batch: int | None = None,
    schema=None,
) -> DataFrame | None:
    """Read a state store laid out as one subdirectory per writer
    (``b_seed``, ``b_<batch_id>``), excluding writers ``>= before_batch``
    so a retried batch never sees its own partial output. Returns None
    when no eligible subdirectory exists yet. ``schema`` (the writer's
    own frame schema, guide §6.2) skips per-batch footer inference —
    every subdirectory is written by this module with a fixed schema."""
    paths = _store_paths(spark, path, before_batch)
    if not paths:
        return None
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(*paths)


def seed_dedup_index(corpus: DataFrame, work_dir: str) -> None:
    """Materialize the persistent dedup state for a seed corpus:
    the shingle store (verification side) and the banded LSH index
    (candidate side)."""
    sh = _doc_shingles(corpus).localCheckpoint()
    sh.write.mode("overwrite").parquet(f"{work_dir}/shingles/b_seed")
    _band_explode(_minhash_signatures_from(sh)).write.mode("overwrite").parquet(
        f"{work_dir}/band_index/b_seed"
    )


def run_streaming_minhash_dedup(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    work_dir: str,
) -> DataFrame:
    """Drain ``source_dir`` (parquet file stream of ``documents`` rows,
    one micro-batch per file) through ingest-time near-dup detection
    against the index seeded by :func:`seed_dedup_index`. Returns the
    accumulated near-dup pair frame (d1 < d2, exact Jaccard ≥ τ).

    foreachBatch body, per micro-batch:

    1. shingle + sign the batch (one localCheckpoint — reused by the
       band join, the verification, and both appends);
    2. band-join the batch's bands against index ∪ batch (so both
       batch-vs-corpus and within-batch pairs surface);
    3. exact-verify candidates against the union shingle store,
       filtered to candidate ids;
    4. write verified pairs, then the batch's shingles and bands, to
       the persistent state — strictly after the join reads, so a
       batch never matches itself through the store.

    Retry-exact on BOTH sides of the state store: writes land in
    per-batch subdirectories with overwrite semantics (``b_<batch_id>``),
    so a batch retried after a mid-write crash REPLACES its own partial
    output instead of appending a second copy; and reads are
    predecessor-only (``b_seed`` + ``b_<k>`` with k < batch_id), so the
    retry never unions its own leftover partial output with the
    in-memory batch frame — which would double those docs' shingle
    counts and corrupt every Jaccard denominator involving them. The
    foreachBatch checkpoint log guarantees committed batches are never
    re-run at all.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _dedup_batch(spark, work_dir, batch_df, batch_id)

    raw = read_file_stream(spark, source_dir, max_files_per_trigger=1)
    drain((raw.writeStream.foreachBatch(process), checkpoint_dir))
    return _accumulated_pairs(spark, work_dir)


def _dedup_batch(
    spark: SparkSession, work_dir: str, batch_df: DataFrame, batch_id: int
) -> None:
    """One ingest-dedup step (the foreachBatch unit): shingle + sign the
    batch, band-join against index ∪ batch, exact-verify, then append
    the batch's state — reads predecessor-only, writes per-batch
    overwrite (see :func:`run_streaming_minhash_dedup` retry notes)."""
    shingle_dir = f"{work_dir}/shingles"
    index_dir = f"{work_dir}/band_index"
    bsh = _doc_shingles(batch_df).localCheckpoint()
    bband = _band_explode(_minhash_signatures_from(bsh)).localCheckpoint()
    prior_bands = _read_store(
        spark, index_dir, before_batch=batch_id, schema=bband.schema
    )
    known = (
        prior_bands.unionByName(bband) if prior_bands is not None else bband
    )
    a, b = bband.alias("a"), known.alias("b")
    # pair key normalized (min, max) so a within-batch pair — seen
    # from both sides of the self-union — collapses to one row.
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("d1"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("d2"),
        )
        .distinct()
    )
    prior_sh = _read_store(
        spark, shingle_dir, before_batch=batch_id, schema=bsh.schema
    )
    all_sh = prior_sh.unionByName(bsh) if prior_sh is not None else bsh
    pairs = _jaccard_pairs_from_candidates(all_sh, cand, JACCARD_T)
    pairs.write.mode("overwrite").parquet(f"{work_dir}/pairs/b_{batch_id}")
    bsh.write.mode("overwrite").parquet(f"{shingle_dir}/b_{batch_id}")
    bband.write.mode("overwrite").parquet(f"{index_dir}/b_{batch_id}")


def _accumulated_pairs(spark: SparkSession, work_dir: str) -> DataFrame:
    """The drained pair store. Explicit empty-store check instead of a
    broad except: a genuine read failure (corrupt parquet, IO error)
    must surface, not be mistaken for "no pairs found"."""
    out = _read_store(spark, f"{work_dir}/pairs")
    if out is None:
        return spark.createDataFrame(
            [], "d1 bigint, d2 bigint, jaccard double"
        )
    # distinct: a pair can re-verify in a later batch only if both docs
    # reappear (exactly-once source makes that impossible, but the read
    # keeps the contract explicit)
    return out.distinct()

def _ingest_batch(
    spark: SparkSession,
    work_dir: str,
    eval_grams: DataFrame,
    batch_df: DataFrame,
    batch_id: int,
    quality_t: float = QUALITY_T,
) -> None:
    """One full ingest step (the ``run_streaming_ingest_pipeline``
    foreachBatch unit): gate the batch on quality + decontamination,
    write the per-doc verdicts, feed the survivors to
    :func:`_dedup_batch`. Same retry discipline as the dedup step —
    per-batch overwrite writes, predecessor-only reads — so a batch
    retried after ANY prefix of its four store writes (verdicts,
    pairs, shingles, bands) landed rebuilds identical state
    (tests/test_extensions.py chaos-probes a torn write + retry)."""
    docs = batch_df.localCheckpoint()
    scored = quality_scored(docs).select("doc_id", "quality_score")
    cont = containment_vs_eval(doc_kgrams(docs), eval_grams).select(
        "doc_id", "containment", "flagged"
    )
    verdicts = (
        docs.select("doc_id")
        .join(scored, "doc_id")
        .join(cont, "doc_id")
        .select(
            "doc_id",
            "quality_score",
            "containment",
            (
                (F.col("quality_score") >= F.lit(quality_t))
                & ~F.col("flagged")
            ).alias("kept"),
            F.when(
                F.col("quality_score") < F.lit(quality_t), "low_quality"
            )
            .when(F.col("flagged"), "contaminated")
            .alias("reason"),
        )
        .localCheckpoint()
    )
    verdicts.write.mode("overwrite").parquet(
        f"{work_dir}/verdicts/b_{batch_id}"
    )
    survivors = docs.join(
        verdicts.filter(F.col("kept")).select("doc_id"), "doc_id"
    )
    _dedup_batch(spark, work_dir, survivors, batch_id)


def seed_eval_grams(eval_docs: DataFrame, work_dir: str) -> None:
    """Materialize the static benchmark k-gram set for ingest-time
    decontamination. Eval sets are small and fixed (they are the
    benchmark, not the stream), so this is a one-time seed — each
    micro-batch broadcasts it, never rebuilds it."""
    doc_kgrams(eval_docs).select("gram").distinct().write.mode(
        "overwrite"
    ).parquet(f"{work_dir}/eval_grams")


def run_streaming_ingest_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    work_dir: str,
    quality_t: float = QUALITY_T,
) -> tuple[DataFrame, DataFrame]:
    """The full training-data ingest path as a stream: per micro-batch,
    apply the quality gate and the benchmark-decontamination gate (both
    pure per-row projections — the batch's own rows plus one broadcast
    of the static eval k-gram set), then feed only the survivors into
    the persistent MinHash dedup index. Requires
    :func:`seed_eval_grams` (and, optionally, :func:`seed_dedup_index`
    for a pre-existing corpus).

    Returns ``(verdicts, pairs)``: per-doc gate verdicts
    ``(doc_id, quality_score, containment, kept, reason)`` for every
    streamed doc, and the accumulated near-dup pair frame among
    survivors. Both stores follow the per-batch-subdirectory retry
    discipline of :func:`run_streaming_minhash_dedup`.

    The gates are stateless per doc, so streamed verdicts are
    bit-identical to the batch twin's regardless of batch boundaries or
    arrival order — pytest asserts streamed ≡ batch on a 3-batch
    delivery; the dedup stage's streamed ≡ batch proof carries over
    from the pair-set equality test.
    """
    eval_grams = spark.read.parquet(f"{work_dir}/eval_grams").localCheckpoint()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _ingest_batch(spark, work_dir, eval_grams, batch_df, batch_id, quality_t)

    raw = read_file_stream(spark, source_dir, max_files_per_trigger=1)
    drain((raw.writeStream.foreachBatch(process), checkpoint_dir))
    verdicts = _read_store(spark, f"{work_dir}/verdicts")
    if verdicts is None:
        verdicts = spark.createDataFrame(
            [],
            "doc_id bigint, quality_score double, containment double,"
            " kept boolean, reason string",
        )
    return verdicts, _accumulated_pairs(spark, work_dir)
