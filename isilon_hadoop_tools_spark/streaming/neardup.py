"""Streaming near-dup maintenance (§2.9 x L4/L6): SimHash hamming
pairs, unified multimodal hamming pairs and MinHash-LSH candidates
over a continuously-crawled corpus.

The production shape: each micro-batch of new documents is
fingerprinted, matched against a persisted band index, and the
newly-created near-dup pairs are appended — without ever re-running
the corpus-wide band self-join. The hamming indexes are ONE design:
:func:`_band_index_apply`, keyed like the batch core
:func:`~isilon_hadoop_tools_spark.operators.dedup._rep_band_join` —
no bucket key for :func:`simhash_index_apply_batch` (integer SimHash
fingerprints), ``["modality"]`` for :func:`tagged_index_apply_batch`
(text/image/audio/video fingerprints in one index, each modality with
its own band split and hamming bound). The wrappers differ only in
how they fingerprint a batch and in their state table names.
:func:`minhash_index_apply_batch` keeps the same discipline over
signature strings, where the pair score is an agreeing-band count
rather than a hamming distance.

State (``ParquetState`` tables; Delta/Iceberg MERGE on a real
deployment), shown for the plain index — the tagged index keeps
``tfp_members`` / ``tband_postings`` / ``tnear_pairs`` with a leading
``modality`` column:

- ``fp_members`` (id, fp): one row per seen document.
- ``band_postings`` (band_idx, band_val, fp): the band index over
  DISTINCT fingerprints only — the same representative collapse as
  the batch ``hamming_band_pairs``, so a boilerplate document
  duplicated 10^6 times holds ONE posting per band and batch joins
  stay O(batch x distinct-per-bucket).
- ``near_pairs`` (id_a, id_b, hamming): the accumulated answer.

Per batch (all bounded joins, no corpus self-join):

1. anti-join the batch's fingerprints against the members — only
   genuinely NEW ids proceed (a replayed batch is a no-op, which is
   what makes the whole operator idempotent without a checkpoint);
2. band the batch's distinct fingerprints and equi-join them against
   the upserted postings — pigeonhole-complete candidates (every
   pair within ``max_hamming < bands`` agrees on >= 1 slice);
3. expand qualifying fingerprint pairs to (new id, any member) pairs
   and merge them into the pairs table.

Write order is crash-safe: pairs, then postings, then members — a
batch is "committed" only once the members land, so a crash between
writes replays the batch and the anti-join/merge steps re-converge
to the same state. The pair table merges via read-modify-swap (the
dedup in the merge is the idempotence backstop); the two INDEX
tables append only their delta, so per-batch write work is O(batch)
— with swap-on-write the total write volume over a stream of B
batches would be O(corpus · B), quadratic in stream length. A crash
mid-append can leave a partial delta; the anti-joins re-add exactly
the missing rows on replay, and candidate generation counts DISTINCT
fingerprint pairs / bands so a re-added posting row can never
double-count (partial-append simulation in the tests).

Batch-equivalence contract (the oracle): after draining any prefix of
the stream, the pairs table equals the batch join (``simhash_near_pairs``
/ ``tagged_hamming_band_pairs``) over the same prefix — every
qualifying pair (x, y) is detected when the later of x, y arrives,
because by then the earlier one's fingerprint is in the postings
index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.operators.dedup import (
    _check_tagged_params,
    _tagged_max_hamming,
    band_slice_array,
    minhash_sig_keys,
    simhash,
    tagged_band_slice_array,
)
from isilon_hadoop_tools_spark.plans.state import ParquetState
from isilon_hadoop_tools_spark.session import job_label, shuffle_partition_count
from isilon_hadoop_tools_spark.streaming.events import drain_into_state

MEMBERS_SCHEMA = "id LONG, fp LONG"
POSTINGS_SCHEMA = "band_idx INT, band_val LONG, fp LONG"
PAIRS_SCHEMA = "id_a LONG, id_b LONG, hamming INT"

SIG_MEMBERS_SCHEMA = "id LONG, sig_key STRING"
SIG_POSTINGS_SCHEMA = "band INT, band_key STRING, sig_key STRING"
SIG_PAIRS_SCHEMA = "id_a LONG, id_b LONG, n_bands LONG"

TAGGED_MEMBERS_SCHEMA = "modality STRING, id LONG, fp LONG"
TAGGED_POSTINGS_SCHEMA = (
    "modality STRING, band_idx INT, band_val LONG, fp LONG"
)
TAGGED_PAIRS_SCHEMA = "modality STRING, id_a LONG, id_b LONG, hamming INT"


def _band_index_apply(
    delta: DataFrame,
    state: ParquetState,
    keys: list[str],
    band_arr,
    max_h,
    tables: tuple[tuple[str, str], tuple[str, str], tuple[str, str]],
    op: str,
) -> None:
    """Fold one micro-batch of fingerprints ``delta`` (``*keys, id,
    fp``) into a persisted band index and merge the newly-detected
    pairs (see module docstring) — the one applier behind
    :func:`simhash_index_apply_batch` (``keys=[]``) and
    :func:`tagged_index_apply_batch` (``keys=["modality"]``).

    ``band_arr`` and ``max_h`` are Column expressions over ``fp`` and
    the key columns: the band-slice array and the per-row hamming
    bound. ``tables`` is ``((members, schema), (postings, schema),
    (pairs, schema))``; every Spark job is labelled ``"{op}: step"``."""
    (members_t, members_s), (postings_t, postings_s), (pairs_t, pairs_s) = tables
    spark = delta.sparkSession
    npart = max(2, shuffle_partition_count(spark))
    members = state.read(members_t, members_s)
    # eager localCheckpoint: batch-sized, consumed by the candidate
    # expansion AND the members merge — must not recompute the
    # fingerprint aggregation per consumer
    with job_label(spark, f"{op}: new_members checkpoint"):
        new_members = delta.join(
            members.select(*keys, "id"), [*keys, "id"], "left_anti"
        ).localCheckpoint(eager=True)
    with job_label(spark, f"{op}: empty-batch probe"):
        if not new_members.take(1):
            return  # replayed or empty batch: nothing to fold in
    postings = state.read(postings_t, postings_s)
    # keyed numbered repartition REPLACES the distinct's exchange
    # (same required distribution, AQE-exempt): without it the
    # checkpoint materializes at the anti-join's AQE-coalesced width
    # (1 partition for a micro-batch) and the band fan-out + hamming
    # candidate stage downstream runs single-task — profiled 0.8 →
    # 1.9 → 2.3 s across three batches on the unified index.
    with job_label(spark, f"{op}: delta_fps checkpoint"):
        delta_fps = (
            new_members.select(*keys, "fp")
            .repartition(npart, *keys, "fp")
            .distinct()
            .localCheckpoint(eager=True)
        )
    new_fps = delta_fps.join(
        postings.filter(F.col("band_idx") == 0).select(*keys, "fp"),
        [*keys, "fp"],
        "left_anti",
    )
    with job_label(spark, f"{op}: new_postings checkpoint"):
        new_postings = (
            new_fps.select(
                *keys,
                F.posexplode(band_arr).alias("band_idx", "band_val"),
                "fp",
            )
            .select(*keys, F.col("band_idx").cast("int"), "band_val", "fp")
            # eager: O(batch) rows, consumed by the candidate join AND
            # the postings append. The earlier form checkpointed the
            # WHOLE postings union instead — an O(index)
            # materialization per batch that grew with the stream
            # (profiled 0.7 → 1.4 → 2.4 s across three batches); the
            # union below is lazy and the index side streams straight
            # from its parquet scan.
            .localCheckpoint(eager=True)
        )
    all_postings = postings.unionByName(new_postings)
    # pigeonhole candidates: batch's distinct fps x the full index,
    # keyed on (*keys, band slice index, slice value) — includes the
    # fp==fp case (identical fingerprints agree on every band)
    delta_banded = delta_fps.select(
        *keys,
        F.col("fp").alias("fp_d"),
        F.posexplode(band_arr).alias("band_idx", "band_val"),
    )
    cand = (
        delta_banded.join(all_postings, [*keys, "band_idx", "band_val"])
        .select(*keys, "fp_d", F.col("fp").alias("fp_o"))
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("fp_d").bitwiseXOR(F.col("fp_o"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_h)
    )
    merged_members = members.unionByName(new_members)
    pairs = (
        cand.join(
            new_members.select(
                *keys, F.col("fp").alias("fp_d"), F.col("id").alias("_ida")
            ),
            [*keys, "fp_d"],
        )
        .join(
            merged_members.select(
                *keys, F.col("fp").alias("fp_o"), F.col("id").alias("_idb")
            ),
            [*keys, "fp_o"],
        )
        .select(
            *keys,
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
        # drops self-pairs; the double emission of both-new pairs
        # (x from the batch side, y from the index side and vice
        # versa) carries the SAME symmetric hamming both ways, so the
        # min-merge groupBy below collapses it — a distinct() here
        # was a second full exchange of the pair rows for nothing
        # (profiled as an extra AQE stage per batch, with the map
        # side coalesced to 1 task on later batches)
        .filter(F.col("id_a") < F.col("id_b"))
    )
    current = state.read(pairs_t, pairs_s)
    # wide write: coalesce(1) would collapse the merge aggregation
    # itself to one task (profiled as multi-second single-task jobs
    # on the later batches); passing the plan's shuffle width keeps
    # the groupBy stage parallel at the cost of more (swap-replaced,
    # never accumulating) state files.
    with job_label(spark, f"{op}: pairs merge write"):
        state.write(
            pairs_t,
            current.unionByName(pairs)
            .groupBy(*keys, "id_a", "id_b")
            .agg(F.min("hamming").cast("int").alias("hamming")),
            partitions=npart,
        )
    # index tables APPEND their delta — O(batch) writes per batch,
    # not an O(corpus) rewrite (swap-on-write would make total write
    # work quadratic in the stream length). Partial-append crash
    # windows are covered: the members anti-join re-adds only missing
    # ids, the postings anti-join re-adds only fps missing band 0,
    # and candidate generation dedups (fp_d, fp_o) before the
    # hamming filter so re-added posting rows cannot double-count.
    with job_label(spark, f"{op}: postings append"):
        state.append(postings_t, new_postings)
    with job_label(spark, f"{op}: members append"):
        state.append(members_t, new_members)


def simhash_index_apply_batch(
    batch: DataFrame,
    state: ParquetState,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
) -> None:
    """Fold one micro-batch of documents into the SimHash band index
    (``fp_members`` / ``band_postings`` / ``near_pairs``) and append
    the newly-detected near-dup pairs: :func:`_band_index_apply` with
    no bucket key (see module docstring)."""
    if max_hamming >= bands:
        raise ValueError("completeness requires max_hamming < bands")
    delta = simhash(batch, text_col, id_col, bits).select(
        "id", F.col("simhash").alias("fp")
    )
    _band_index_apply(
        delta,
        state,
        [],
        band_slice_array(F.col("fp"), bits, bands),
        F.lit(max_hamming),
        (
            ("fp_members", MEMBERS_SCHEMA),
            ("band_postings", POSTINGS_SCHEMA),
            ("near_pairs", PAIRS_SCHEMA),
        ),
        "simhash_index",
    )


def simhash_stream_into_state(
    docs: DataFrame,
    state: ParquetState,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
    checkpoint: str | None = None,
) -> None:
    """Drain a document stream through
    :func:`simhash_index_apply_batch` via ``foreachBatch`` with
    ``trigger(availableNow)`` — the streaming twin of the batch
    ``simhash_near_pairs``, replay-proof with or without a
    checkpoint (the members anti-join makes every batch idempotent)."""

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        simhash_index_apply_batch(
            batch,
            state,
            text_col=text_col,
            id_col=id_col,
            bits=bits,
            max_hamming=max_hamming,
            bands=bands,
        )

    drain_into_state(docs, apply_batch, checkpoint)


def minhash_index_apply_batch(
    batch: DataFrame,
    state: ParquetState,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> None:
    """The MinHash-LSH twin of :func:`_band_index_apply`:
    fold one micro-batch into a persisted band-key index and append
    the newly-created LSH candidate pairs ``(id_a, id_b, n_bands)``.

    Identical state design, with the signature string standing in for
    the integer fingerprint: ``sig_members`` (id, sig_key),
    ``sig_postings`` (band, band_key, sig_key — DISTINCT signatures
    only, the rep-collapse as persisted state), ``lsh_pairs``. The
    members anti-join makes replays no-ops; the pairs→postings→
    members write order makes a mid-batch crash replayable; after any
    prefix the pair state equals the batch
    :func:`~isilon_hadoop_tools_spark.operators.dedup.minhash_lsh_pairs`
    over that prefix (candidate (x, y) is found when the later of
    x, y arrives — the earlier signature is in the postings by then,
    and agreeing bands join key-for-key).
    """
    spark = batch.sparkSession
    npart = max(2, shuffle_partition_count(spark))
    delta = minhash_sig_keys(batch, text_col, id_col, num_hashes, bands, k)
    members = state.read("sig_members", SIG_MEMBERS_SCHEMA)
    with job_label(spark, "minhash_index: new_members checkpoint"):
        new_members = delta.join(
            members.select("id"), "id", "left_anti"
        ).localCheckpoint(eager=True)
    with job_label(spark, "minhash_index: empty-batch probe"):
        if not new_members.take(1):
            return  # replayed or empty batch
    postings = state.read("sig_postings", SIG_POSTINGS_SCHEMA)
    # width-pinned delta checkpoint — see _band_index_apply
    with job_label(spark, "minhash_index: delta_sigs checkpoint"):
        delta_sigs = (
            new_members.select("sig_key")
            .repartition(npart, "sig_key")
            .distinct()
            .localCheckpoint(eager=True)
        )
    new_sigs = delta_sigs.join(
        postings.filter(F.col("band") == 0).select("sig_key"),
        "sig_key",
        "left_anti",
    )
    with job_label(spark, "minhash_index: new_postings checkpoint"):
        new_postings = (
            new_sigs.select(
                F.posexplode(F.split("sig_key", r"\|")).alias("band", "band_key"),
                "sig_key",
            )
            .select(F.col("band").cast("int"), "band_key", "sig_key")
            # eager O(batch) checkpoint; the index union stays lazy
            # (see _band_index_apply — the old O(index)-per-batch
            # union checkpoint grew with the stream)
            .localCheckpoint(eager=True)
        )
    all_postings = postings.unionByName(new_postings)
    delta_banded = delta_sigs.select(
        F.col("sig_key").alias("sig_d"),
        F.posexplode(F.split("sig_key", r"\|")).alias("band", "band_key"),
    )
    # candidate signature pairs; the collision count IS the number of
    # agreeing bands (band keys join key-for-key), including the
    # sig==sig case where every band agrees
    cand = (
        delta_banded.join(all_postings, ["band", "band_key"])
        .select("sig_d", F.col("sig_key").alias("sig_o"), "band")
        .groupBy("sig_d", "sig_o")
        # DISTINCT bands, not raw join rows: a partial-append crash
        # can leave duplicate posting rows for a signature, and raw
        # counting would inflate n_bands
        .agg(F.countDistinct("band").alias("n_bands"))
    )
    merged_members = members.unionByName(new_members)
    pairs = (
        cand.join(
            new_members.select(
                F.col("sig_key").alias("sig_d"), F.col("id").alias("_ida")
            ),
            "sig_d",
        )
        .join(
            merged_members.select(
                F.col("sig_key").alias("sig_o"), F.col("id").alias("_idb")
            ),
            "sig_o",
        )
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "n_bands",
        )
        # both-new pairs arrive once per direction with the SAME
        # n_bands (band agreement is symmetric), so the max-merge
        # groupBy below collapses them — no distinct() exchange here
        .filter(F.col("id_a") < F.col("id_b"))
    )
    current = state.read("lsh_pairs", SIG_PAIRS_SCHEMA)
    with job_label(spark, "minhash_index: pairs merge write"):
        state.write(
            "lsh_pairs",
            current.unionByName(pairs)
            .groupBy("id_a", "id_b")
            .agg(F.max("n_bands").alias("n_bands")),
            # wide write — see _band_index_apply
            partitions=npart,
        )
    # O(delta) index appends — see _band_index_apply
    with job_label(spark, "minhash_index: postings append"):
        state.append("sig_postings", new_postings)
    with job_label(spark, "minhash_index: members append"):
        state.append("sig_members", new_members)


def minhash_stream_into_state(
    docs: DataFrame,
    state: ParquetState,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    checkpoint: str | None = None,
) -> None:
    """Drain a document stream through
    :func:`minhash_index_apply_batch` via ``foreachBatch`` with
    ``trigger(availableNow)`` — replay-proof with or without a
    checkpoint, the streaming twin of the batch LSH candidate
    generation."""

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        minhash_index_apply_batch(
            batch,
            state,
            text_col=text_col,
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
            k=k,
        )

    drain_into_state(docs, apply_batch, checkpoint)


IVF_MEMBERS_SCHEMA = "vid LONG"
IVF_POSTINGS_SCHEMA = "list_id INT, vid LONG, dist LONG"


def ivf_index_apply_batch(
    batch: DataFrame,
    state: ParquetState,
    centroids: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> None:
    """Fold one micro-batch of vectors into the IVF inverted lists —
    the streaming half of the L12/L44b index for a continuously
    embedded corpus: the coarse codebook is PRE-TRAINED offline (the
    production reality — codebooks retrain on samples, the index
    ingests continuously) and each batch's new vectors are assigned
    by the same exact-integer argmin as the batch operator, so the
    final postings equal a one-pass batch assignment.

    Same crash/replay discipline as the near-dup indexes: members
    anti-join makes a replayed batch a no-op; postings append is
    guarded by its own vid anti-join so a crash between the postings
    and members appends cannot duplicate rows; appends are O(batch),
    never an index rewrite."""
    from isilon_hadoop_tools_spark.operators.similarity import (
        kmeans_assign,
        quantize_vectors,
    )

    members = state.read("ivf_members", IVF_MEMBERS_SCHEMA)
    qv = quantize_vectors(batch, vec_col, id_col, scale)
    new = qv.join(members, "vid", "left_anti").localCheckpoint(eager=True)
    if not new.take(1):
        return  # replayed or empty batch
    assign = kmeans_assign(new, centroids).select(
        F.col("list_id").cast("int"), "vid", "dist"
    )
    postings = state.read("ivf_postings", IVF_POSTINGS_SCHEMA)
    new_postings = assign.join(
        postings.select("vid"), "vid", "left_anti"
    )
    state.append("ivf_postings", new_postings)
    state.append("ivf_members", new.select("vid"))


def ivf_stream_into_state(
    vecs: DataFrame,
    state: ParquetState,
    centroids: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    checkpoint: str | None = None,
) -> None:
    """Drain a vector stream into the IVF inverted-list state with
    ``foreachBatch`` + ``availableNow`` (see
    :func:`ivf_index_apply_batch`)."""

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        ivf_index_apply_batch(
            batch, state, centroids, vec_col, id_col, scale
        )

    drain_into_state(vecs, apply_batch, checkpoint)


def tagged_index_apply_batch(
    fps: DataFrame,
    state: ParquetState,
    params: dict,
) -> None:
    """Fold one micro-batch of TAGGED fingerprints — ``(modality, id,
    fhash)`` rows from any mix of text/image/audio/video — into ONE
    unified band index (the streaming twin of the batch
    ``tagged_hamming_band_pairs``, completing L16u for the
    continuous-crawl case): one postings table, one members table,
    one pairs table (``tfp_members`` / ``tband_postings`` /
    ``tnear_pairs``), with the modality inside every key so buckets
    never mix and each modality keeps its own ``params[(bits,
    max_hamming, bands)]``.

    This is :func:`_band_index_apply` keyed on ``["modality"]`` — the
    same maintenance pipeline, crash/replay discipline and write
    order as the plain SimHash index, maintaining the whole
    multimodal corpus instead of four copies of it.
    """
    _check_tagged_params(params)
    # NULL modality tags are pruned EXPLICITLY at ingest (mirrors the
    # guard in tagged_band_slice_array, which accepts NULL tags and
    # yields a NULL band array): the batch band join infers an
    # IS NOT NULL filter on its keys, but this posting build has no
    # such join, and an implicit dependence on optimizer inference is
    # exactly what let a NULL-tag row previously fail whole batches.
    delta = fps.filter(F.col("modality").isNotNull()).select(
        "modality", "id", F.col("fhash").alias("fp")
    )
    _band_index_apply(
        delta,
        state,
        ["modality"],
        tagged_band_slice_array(F.col("fp"), F.col("modality"), params),
        _tagged_max_hamming(F.col("modality"), params),
        (
            ("tfp_members", TAGGED_MEMBERS_SCHEMA),
            ("tband_postings", TAGGED_POSTINGS_SCHEMA),
            ("tnear_pairs", TAGGED_PAIRS_SCHEMA),
        ),
        "tagged_index",
    )


def tagged_stream_into_state(
    docs: DataFrame,
    state: ParquetState,
    params: dict,
    fingerprint_fn,
    checkpoint: str | None = None,
) -> None:
    """Drain a document stream into the unified multimodal band index:
    each micro-batch is fingerprinted by ``fingerprint_fn`` (a
    ``DataFrame -> DataFrame`` producing ``(modality, id, fhash)`` —
    the modality-specific decode/hash work stays outside the shared
    maintenance machinery, mirroring the batch split between the
    fingerprint operators and ``tagged_hamming_band_pairs``) and
    folded in by :func:`tagged_index_apply_batch`."""

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        tagged_index_apply_batch(fingerprint_fn(batch), state, params)

    drain_into_state(docs, apply_batch, checkpoint)


SFX_MEMBERS_SCHEMA = "id LONG"
SFX_DOCS_SCHEMA = "id LONG, text STRING"
SFX_GRAMS_SCHEMA = "id LONG, pos LONG, gh LONG"
SFX_SPANS_SCHEMA = (
    "id LONG, start_tok LONG, end_tok LONG, span_len LONG,"
    " max_dup_len LONG, n_positions LONG"
)


def suffix_index_apply_batch(
    docs: DataFrame,
    state: ParquetState,
    min_len: int = 10,
    max_match_len: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold one micro-batch of documents into the EXACT-substring
    (suffix) dedup index — the streaming twin of the batch
    ``suffix_dup_spans`` (L29d), completing the continuous-crawl
    story for the last dedup family that only had a batch form.

    State tables:

    - ``sfx_members`` (id): seen docs — the replay no-op anti-join.
    - ``sfx_docs`` (id, text): the corpus store recomputes read from
      (a real deployment points this at the lakehouse table).
    - ``sfx_grams`` (id, pos, gh): ALL candidate-gram postings —
      which (doc, pos) carry which ``min_len``-gram fingerprint.
    - ``sfx_spans``: the current exact spans per doc (the batch
      operator's answer over everything seen so far).

    Per batch, spans recompute ONLY for TOUCHED documents, exactly:

    1. touched grams = the batch's grams whose corpus-wide count is
       now >= 2 (counted only for the batch's gh values — O(batch)
       index probes, never a full postings scan);
    2. touched docs = every doc holding a touched gram. A new
       partner for any position p shares p's leading gram, so a
       doc with NO touched gram cannot have changed dup_lens — its
       stored spans stay exact;
    3. the recompute candidate set = every position (ANY doc) whose
       gram is a duplicated gram OF A TOUCHED DOC — partner-closed
       for touched docs' positions (a max-LCP partner shares the
       position's leading gram, which is a duplicated touched-doc
       gram), so ``_suffix_spans_from``'s subset adjacency is exact
       for them; untouched partner docs contribute suffixes but
       their own (possibly subset-underestimated) spans are NOT
       emitted;
    4. spans for touched docs are swapped in; untouched rows carry
       over.

    Crash/replay discipline (the family contract): write order is
    spans (swap) -> gram postings (append, anti-joined so a partial
    append replays to exactly the missing rows — duplicate posting
    rows would corrupt the >= 2 counts) -> docs (append, anti-joined)
    -> members (append, the commit point). A replayed batch anti-joins
    to empty and is a no-op.
    """
    from isilon_hadoop_tools_spark.functions.text import tokens
    from isilon_hadoop_tools_spark.operators.corpus import (
        _suffix_grams,
        _suffix_spans_from,
    )

    batch = docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    members = state.read("sfx_members", SFX_MEMBERS_SCHEMA)
    new_docs = batch.join(members, "id", "left_anti").localCheckpoint(
        eager=True
    )
    if not new_docs.take(1):
        return  # replayed or empty batch
    _toks_new, grams_new = _suffix_grams(new_docs, "text", "id", min_len)
    grams_new = grams_new.localCheckpoint(eager=True)
    # a crash AFTER the postings/docs appends but BEFORE the members
    # append replays this batch with its rows partially persisted:
    # excluding the replaying ids from the "old" side (an O(batch)
    # anti-join) and recomputing them fresh prevents double-counted
    # gram occurrences (which would fabricate duplicates) and
    # double-unioned texts; the storage appends below anti-join too,
    # so the tables themselves stay duplicate-free
    new_ids = new_docs.select("id")
    postings_raw = state.read("sfx_grams", SFX_GRAMS_SCHEMA)
    docs_raw = state.read("sfx_docs", SFX_DOCS_SCHEMA)
    postings = postings_raw.join(new_ids, "id", "left_anti")
    old_docs = docs_raw.join(new_ids, "id", "left_anti")
    all_grams = postings.unionByName(grams_new).localCheckpoint(eager=False)
    touched_gh = grams_new.select("gh").distinct()
    dup_touched = (
        all_grams.join(touched_gh, "gh")
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("gh")
    )
    touched_docs = (
        all_grams.join(dup_touched, "gh")
        .select("id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    tg = all_grams.join(touched_docs, "id", "left_semi").select("gh").distinct()
    relevant = (
        all_grams.join(tg, "gh")
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("gh")
    )
    cands = all_grams.join(relevant, "gh", "left_semi").select("id", "pos")
    all_texts = old_docs.unionByName(new_docs)
    toks = (
        all_texts.join(cands.select("id").distinct(), "id", "left_semi")
        .select("id", tokens("text").alias("_arr"))
        .localCheckpoint(eager=False)
    )
    spans_new = _suffix_spans_from(cands, toks, min_len, max_match_len).join(
        touched_docs, "id", "left_semi"
    )
    current = state.read("sfx_spans", SFX_SPANS_SCHEMA)
    merged = current.join(touched_docs, "id", "left_anti").unionByName(
        spans_new.select(
            "id", "start_tok", "end_tok", "span_len",
            "max_dup_len", "n_positions",
        )
    )
    state.write("sfx_spans", merged)
    # appends anti-join the RAW reads (not the replay-cleaned views)
    # so a partially-appended prior attempt re-adds only missing rows
    state.append(
        "sfx_grams",
        grams_new.join(postings_raw, ["id", "pos", "gh"], "left_anti"),
    )
    state.append(
        "sfx_docs", new_docs.join(docs_raw.select("id"), "id", "left_anti")
    )
    state.append("sfx_members", new_docs.select("id"))


def suffix_stream_into_state(
    docs: DataFrame,
    state: ParquetState,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 10,
    max_match_len: int = 256,
    checkpoint: str | None = None,
) -> None:
    """Drain a document stream through
    :func:`suffix_index_apply_batch` via ``foreachBatch`` with
    ``trigger(availableNow)`` — replay-proof with or without a
    checkpoint, the streaming twin of the batch exact-substring
    dedup."""

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        suffix_index_apply_batch(
            batch,
            state,
            min_len=min_len,
            max_match_len=max_match_len,
            text_col=text_col,
            id_col=id_col,
        )

    drain_into_state(docs, apply_batch, checkpoint)


DC_MEMBERS_SCHEMA = "id LONG"
DC_DOCS_SCHEMA = "id LONG, domain STRING"
DC_KEPT_SCHEMA = "id LONG, domain STRING, kept BOOLEAN"


def domain_caps_apply_batch(
    docs: DataFrame,
    state: ParquetState,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> None:
    """Fold one micro-batch of documents into the per-domain
    frequency-cap decision table — the streaming twin of the batch
    ``urls.domain_caps`` (L64), keeping the BATCH semantics exactly:
    kept = the lowest ``cap`` ids per registrable domain over
    everything seen so far. That means a newly-arrived LOWER id can
    displace a previously-kept doc — decisions for touched domains
    are REPLACED per batch, not appended; downstream consumers read
    the decision table as a snapshot (the deterministic-by-id cap is
    what makes replays and backfills converge to one answer
    regardless of arrival order).

    Per batch, decisions recompute ONLY for TOUCHED domains (domains
    present in the batch — untouched domains' counts and id sets are
    unchanged, so their decisions are already exact); the recompute
    itself is the batch operator's shape (under-cap domains bypass
    the rank window).

    State: ``dc_members`` (replay no-op anti-join), ``dc_docs``
    (id, domain), ``dc_kept`` (the decision snapshot). Write order:
    kept (swap) → docs (append, anti-joined) → members (append, the
    commit point); reads exclude the replaying ids so a partial
    append cannot double-count a document into its domain.
    """
    from isilon_hadoop_tools_spark.operators.urls import (
        host_expr,
        registrable_domain_expr,
    )

    batch = docs.select(
        F.col(id_col).alias("id"),
        registrable_domain_expr(host_expr(url_col)).alias("domain"),
    )
    members = state.read("dc_members", DC_MEMBERS_SCHEMA)
    new_docs = batch.join(members, "id", "left_anti").localCheckpoint(
        eager=True
    )
    if not new_docs.take(1):
        return  # replayed or empty batch
    new_ids = new_docs.select("id")
    docs_raw = state.read("dc_docs", DC_DOCS_SCHEMA)
    old_docs = docs_raw.join(new_ids, "id", "left_anti")
    touched = new_docs.select("domain").distinct().localCheckpoint(
        eager=True
    )
    cand = (
        old_docs.join(touched, "domain", "left_semi")
        .unionByName(new_docs)
        .localCheckpoint(eager=False)
    )
    counts = cand.groupBy("domain").agg(F.count(F.lit(1)).alias("_n"))
    heavy = counts.filter(F.col("_n") > cap).select("domain")
    light = cand.join(heavy, "domain", "left_anti").select(
        "id", "domain", F.lit(True).alias("kept")
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("domain").orderBy("id")
    ranked = (
        cand.join(heavy, "domain", "left_semi")
        .withColumn("_rk", F.row_number().over(w))
        .select("id", "domain", (F.col("_rk") <= cap).alias("kept"))
    )
    new_kept = light.unionByName(ranked)
    current = state.read("dc_kept", DC_KEPT_SCHEMA)
    merged = current.join(touched, "domain", "left_anti").unionByName(
        new_kept
    )
    state.write("dc_kept", merged)
    state.append(
        "dc_docs", new_docs.join(docs_raw.select("id"), "id", "left_anti")
    )
    state.append("dc_members", new_ids)


def domain_caps_stream_into_state(
    docs: DataFrame,
    state: ParquetState,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    checkpoint: str | None = None,
) -> None:
    """Drain a document stream through
    :func:`domain_caps_apply_batch` via ``foreachBatch`` with
    ``trigger(availableNow)`` — replay-proof with or without a
    checkpoint, the streaming twin of the batch per-domain cap."""

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        domain_caps_apply_batch(
            batch, state, cap=cap, url_col=url_col, id_col=id_col
        )

    drain_into_state(docs, apply_batch, checkpoint)


UK_MEMBERS_SCHEMA = "id LONG"
UK_DOCS_SCHEMA = "id LONG, canon_url STRING"
UK_KEPT_SCHEMA = "id LONG, canon_url STRING, n_dups LONG, kept BOOLEAN"


def url_keep_one_apply_batch(
    docs: DataFrame,
    state: ParquetState,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> None:
    """Fold one micro-batch into the canonical-URL keep-one decision
    table — the streaming twin of ``urls.url_keep_one`` (L63b) with
    the same BATCH semantics as the domain-cap maintainer: kept = the
    lowest id per canonical-URL group over everything seen, so a
    later-arriving lower id displaces the previous representative and
    ``n_dups`` grows as the group does. Decisions recompute ONLY for
    touched canonical groups (groups present in the batch); untouched
    groups' snapshots are already exact.

    State: ``uk_members`` / ``uk_docs`` / ``uk_kept``; write order
    kept (swap) → docs (append, anti-joined) → members (commit
    point); reads exclude the replaying ids.
    """
    from isilon_hadoop_tools_spark.operators.urls import canonical_url_expr

    batch = docs.select(
        F.col(id_col).alias("id"),
        canonical_url_expr(url_col).alias("canon_url"),
    )
    members = state.read("uk_members", UK_MEMBERS_SCHEMA)
    new_docs = batch.join(members, "id", "left_anti").localCheckpoint(
        eager=True
    )
    if not new_docs.take(1):
        return  # replayed or empty batch
    new_ids = new_docs.select("id")
    docs_raw = state.read("uk_docs", UK_DOCS_SCHEMA)
    old_docs = docs_raw.join(new_ids, "id", "left_anti")
    touched = new_docs.select("canon_url").distinct().localCheckpoint(
        eager=True
    )
    cand = old_docs.join(touched, "canon_url", "left_semi").unionByName(
        new_docs
    )
    g = cand.groupBy("canon_url").agg(
        F.min("id").alias("_keep_id"), F.count(F.lit(1)).alias("n_dups")
    )
    new_kept = cand.join(g, "canon_url").select(
        "id",
        "canon_url",
        "n_dups",
        (F.col("id") == F.col("_keep_id")).alias("kept"),
    )
    current = state.read("uk_kept", UK_KEPT_SCHEMA)
    merged = current.join(touched, "canon_url", "left_anti").unionByName(
        new_kept
    )
    state.write("uk_kept", merged)
    state.append(
        "uk_docs", new_docs.join(docs_raw.select("id"), "id", "left_anti")
    )
    state.append("uk_members", new_ids)


def url_keep_one_stream_into_state(
    docs: DataFrame,
    state: ParquetState,
    url_col: str = "url",
    id_col: str = "doc_id",
    checkpoint: str | None = None,
) -> None:
    """Drain a document stream through
    :func:`url_keep_one_apply_batch` via ``foreachBatch`` with
    ``trigger(availableNow)``."""

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        url_keep_one_apply_batch(
            batch, state, url_col=url_col, id_col=id_col
        )

    drain_into_state(docs, apply_batch, checkpoint)


PP_MEMBERS_SCHEMA = "id LONG"
PP_PARAS_SCHEMA = "id LONG, pos INT, para STRING"
PP_FIRST_SCHEMA = "para STRING, fid LONG, fpos INT"
PP_KEPT_SCHEMA = "id LONG, n_paras LONG, n_kept LONG, text_clean STRING"


def paragraph_index_apply_batch(
    docs: DataFrame,
    state: ParquetState,
    sep: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold one micro-batch into the CCNet paragraph-dedup state —
    the streaming twin of ``corpus.paragraph_dedup`` (L67) with the
    displacement semantics of the other curation maintainers: a
    paragraph occurrence is kept iff it is the (min id, min pos)
    occurrence over EVERYTHING seen, so a later-arriving lower id
    takes ownership of a boilerplate paragraph and every previously-
    rebuilt document that contained it is re-assembled — replays and
    backfills converge to the batch answer regardless of arrival
    order.

    Per batch, work is bounded by the TOUCHED paragraph set: the
    ownership table updates only for the batch's paragraphs (an
    idempotent min-merge), and only documents owning a touched
    paragraph (plus the batch docs) re-assemble; everything else's
    decision rows are byte-identical and untouched.

    State: ``pp_members`` (replay no-op anti-join), ``pp_paras``
    (the (id, pos, para) postings), ``pp_first`` (paragraph
    ownership), ``pp_kept`` (the per-doc rebuilt snapshot). Write
    order: kept (swap) -> first (swap, idempotent min) -> paras
    (append, anti-joined) -> members (append, the commit point);
    reads exclude the replaying ids so a partial paras append cannot
    double-count an occurrence.
    """
    members = state.read("pp_members", PP_MEMBERS_SCHEMA)
    new_docs = (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .join(members, "id", "left_anti")
        .localCheckpoint(eager=True)
    )
    if not new_docs.take(1):
        return  # replayed or empty batch
    new_ids = new_docs.select("id")
    new_paras = new_docs.select(
        "id", F.posexplode(F.split("text", sep)).alias("pos", "para")
    ).localCheckpoint(eager=True)
    paras_raw = state.read("pp_paras", PP_PARAS_SCHEMA)
    old_paras = paras_raw.join(new_ids, "id", "left_anti")
    touched = new_paras.select("para").distinct().localCheckpoint(eager=True)
    first_raw = state.read("pp_first", PP_FIRST_SCHEMA)
    new_first = new_paras.groupBy("para").agg(
        F.min(F.struct(F.col("id"), F.col("pos"))).alias("_f")
    ).select("para", F.col("_f.id").alias("fid"), F.col("_f.pos").alias("fpos"))
    merged_touched = (
        first_raw.join(touched, "para", "left_semi")
        .unionByName(new_first)
        .groupBy("para")
        .agg(F.min(F.struct(F.col("fid"), F.col("fpos"))).alias("_f"))
        .select(
            "para", F.col("_f.fid").alias("fid"), F.col("_f.fpos").alias("fpos")
        )
    )
    first_merged = (
        first_raw.join(touched, "para", "left_anti")
        .unionByName(merged_touched)
        .localCheckpoint(eager=True)
    )
    affected = (
        old_paras.join(touched, "para", "left_semi")
        .select("id")
        .unionByName(new_ids)
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_affected_paras = (
        old_paras.unionByName(new_paras)
        .join(affected, "id", "left_semi")
    )
    flagged = all_affected_paras.join(first_merged, "para").select(
        "id",
        "pos",
        "para",
        ((F.col("id") == F.col("fid")) & (F.col("pos") == F.col("fpos"))).alias(
            "keep"
        ),
    )
    rebuilt = flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text_clean"),
    )
    current = state.read("pp_kept", PP_KEPT_SCHEMA)
    merged_kept = current.join(affected, "id", "left_anti").unionByName(
        rebuilt
    )
    state.write("pp_kept", merged_kept)
    state.write("pp_first", first_merged)
    state.append(
        "pp_paras",
        new_paras.join(paras_raw.select("id", "pos"), ["id", "pos"], "left_anti"),
    )
    state.append("pp_members", new_ids)


def paragraph_stream_into_state(
    docs: DataFrame,
    state: ParquetState,
    sep: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint: str | None = None,
) -> None:
    """Drain a document stream through
    :func:`paragraph_index_apply_batch` via ``foreachBatch`` with
    ``trigger(availableNow)`` — replay-proof with or without a
    checkpoint, the streaming twin of CCNet paragraph dedup."""

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        paragraph_index_apply_batch(
            batch, state, sep=sep, text_col=text_col, id_col=id_col
        )

    drain_into_state(docs, apply_batch, checkpoint)


CP_MEMBERS_SCHEMA = "partition STRING, file LONG"
CP_FILES_SCHEMA = "partition STRING, file LONG, size_bytes LONG"
CP_PLAN_SCHEMA = (
    "partition STRING, file LONG, size_bytes LONG, cum_bytes LONG,"
    " bin_seq INT, n_files_before LONG, n_files_after INT"
)


def compaction_apply_batch(
    files: DataFrame,
    state: ParquetState,
    target_bytes: int,
    partition_col: str = "partition",
    file_col: str = "file",
    size_col: str = "size_bytes",
) -> None:
    """Fold one micro-batch of FILE-LISTING rows into the compaction
    plan — the streaming twin of the batch ``skew.compaction_plan``
    (SC9), keeping the BATCH semantics exactly: the plan for every
    table partition equals the size-ordered start-offset binning over
    ALL files seen so far. A newly-arrived large file RESORTS its
    partition (size-DESC order changes), displacing every previous
    bin assignment there — so plans for touched partitions are
    REPLACED per batch, never patched, and the snapshot converges to
    one answer regardless of arrival order (the continuous OPTIMIZE
    loop a streaming-ingested lakehouse table runs).

    Per batch, the plan recomputes ONLY for TOUCHED partitions
    (partitions present in the batch); untouched partitions' listings
    are unchanged, so their plans are already exact. Files are
    immutable storage objects, so a re-appearing (partition, file)
    key is a REPLAY, not an update — the members anti-join no-ops it.

    State: ``cp_members`` (replay no-op), ``cp_files`` (the
    accumulated listing), ``cp_plan`` (the decision snapshot). Write
    order: plan (swap) → files (append, anti-joined) → members
    (append, the commit point); reads exclude the replaying keys so
    a partial append cannot double-count a file into its partition.
    """
    from isilon_hadoop_tools_spark.operators.skew import compaction_plan

    batch = files.select(
        F.col(partition_col).cast("string").alias("partition"),
        F.col(file_col).cast("long").alias("file"),
        F.col(size_col).cast("long").alias("size_bytes"),
    )
    members = state.read("cp_members", CP_MEMBERS_SCHEMA)
    key = ["partition", "file"]
    new_files = batch.join(members, key, "left_anti").localCheckpoint(
        eager=True
    )
    if not new_files.take(1):
        return  # replayed or empty batch
    files_raw = state.read("cp_files", CP_FILES_SCHEMA)
    old_files = files_raw.join(new_files.select(*key), key, "left_anti")
    touched = new_files.select("partition").distinct().localCheckpoint(
        eager=True
    )
    cand = (
        old_files.join(touched, "partition", "left_semi")
        .unionByName(new_files)
    )
    plan = compaction_plan(
        cand, "partition", "file", "size_bytes", target_bytes
    )
    current = state.read("cp_plan", CP_PLAN_SCHEMA)
    merged = current.join(touched, "partition", "left_anti").unionByName(
        plan
    )
    state.write("cp_plan", merged)
    state.append(
        "cp_files",
        new_files.join(files_raw.select(*key), key, "left_anti"),
    )
    state.append("cp_members", new_files.select(*key))


def compaction_stream_into_state(
    files: DataFrame,
    state: ParquetState,
    target_bytes: int,
    partition_col: str = "partition",
    file_col: str = "file",
    size_col: str = "size_bytes",
    checkpoint: str | None = None,
) -> None:
    """Drain a file-listing stream through
    :func:`compaction_apply_batch` via ``foreachBatch`` with
    ``trigger(availableNow)`` — replay-proof with or without a
    checkpoint, the streaming twin of the batch compaction planner."""

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        compaction_apply_batch(
            batch,
            state,
            target_bytes=target_bytes,
            partition_col=partition_col,
            file_col=file_col,
            size_col=size_col,
        )

    drain_into_state(files, apply_batch, checkpoint)


BLOOM_BITS_SCHEMA = "bit INT"


def bloom_index_apply_batch(
    keys: DataFrame,
    state: ParquetState,
    key_col: str,
    m_bits: int = 8192,
    k_hashes: int = 3,
    seed_base: int = 97,
) -> None:
    """Fold one micro-batch of build-side keys into the SC11 Bloom
    bitmap's SET-BIT table — the streaming twin of
    ``skew.bloom_semi_join``'s driver fold, for the case where the
    selective build side is itself a stream (e.g. an arriving
    blocklist): per batch, the batch keys' bit positions union into
    the state with ``distinct`` — set-union is idempotent and
    commutative, so replayed or re-ordered batches converge to the
    same bitmap, and the state is bounded by ``m_bits`` rows forever.
    A probe side then prefilters with the CURRENT bitmap exactly as
    the batch operator does (false positives verified away by the
    exact join)."""
    from isilon_hadoop_tools_spark.functions.hashing import stable_hash32

    k = F.col(key_col).cast("string")
    bits = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(
                        stable_hash32(k, seed_base + j), F.lit(m_bits)
                    ).cast("int")
                    for j in range(k_hashes)
                ]
            )
        ).alias("bit")
    ).distinct()
    current = state.read("bloom_bits", BLOOM_BITS_SCHEMA)
    state.write("bloom_bits", current.unionByName(bits).distinct())


def bloom_stream_into_state(
    keys: DataFrame,
    state: ParquetState,
    key_col: str,
    m_bits: int = 8192,
    k_hashes: int = 3,
    seed_base: int = 97,
    checkpoint: str | None = None,
) -> None:
    """Drain a build-side key stream through
    :func:`bloom_index_apply_batch` via ``foreachBatch`` with
    ``trigger(availableNow)`` — replay-proof with or without a
    checkpoint (the set-bit union is idempotent)."""

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        bloom_index_apply_batch(
            batch, state, key_col,
            m_bits=m_bits, k_hashes=k_hashes, seed_base=seed_base,
        )

    drain_into_state(keys, apply_batch, checkpoint)
