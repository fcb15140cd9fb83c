"""The end-to-end KG-construction plan (north_star dataflow), defined
once as named stages:

    pages          (url, warc_ts, html, text, lang) — extracted text
                   (byte-identical invariant)
    sentences      sentence chunks
    mentions       fused inference → parse → span-align → explode
                   (one mapInPandas pass, operators/infer.py)
                   [optional] type verification (SP3)
    aliases        the alias table
    resolution     the surface-vocabulary dictionary: exact alias join,
                   LSH fuzzy fallback, NIL rows; canonical entity_name /
                   entity_key / eid per surface ([optional] NIL merge by
                   connected components)
    linked         mentions broadcast-joined onto ``resolution``
    nodes
    triples        co-occurrence triples
    triple_counts

Only the **boundary policy** varies between callers; both policies
are built on plans/checkpoint.py:

- in memory (``build_pipeline``, ``streaming.incremental.
  batch_triple_counts``): every stage is lazy except ``mentions``,
  which is url-hash repartitioned and filled by an eager
  ``localCheckpoint``;
- parquet (``run_pipeline``): every stage is a resumable
  :func:`checkpoint.run_stage`, the big tables bucketed by url or
  subject hash, so a crashed run resumes at the first incomplete stage.

:func:`_chain` wraps the whole build in :func:`checkpoint.persisted_by`,
so :meth:`PipelineResult.unpersist` frees every block the build
persisted: the mention boundary and the resolution stage's vocabulary
and dictionary checkpoints.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import linking, triples as triples_op
from ..operators.infer import extract_mentions
from ..operators.verify import verify_types
from ..sources.pages import pages_with_extracted_text
from ..sources.sentences import split_sentences
from .checkpoint import CheckpointBlocks, persisted_by, run_stage


@dataclass
class PipelineResult:
    pages: DataFrame
    sentences: DataFrame
    mentions: DataFrame
    linked: DataFrame
    nodes: DataFrame
    triples: DataFrame
    triple_counts: DataFrame
    blocks: CheckpointBlocks | None = None   # what the build persisted

    def unpersist(self) -> None:
        """Release every block the build persisted (the mention
        boundary and linking's checkpoints). Call it only once the
        outputs are consumed; loop callers (bench, notebooks) must call
        it or checkpoint blocks accumulate."""
        if self.blocks is not None:
            self.blocks.unpersist()


# stage(name, build, bucket_on=None) -> DataFrame: the boundary policy.
# ``build`` returns the stage's lazy frame; ``bucket_on`` names the
# hash key of a big table's layout.
Stage = Callable[..., DataFrame]


class _InMemory:
    """In-memory boundary policy: one materialization, at the mention
    stage, hash-partitioned on its ``bucket_on`` key (url). The
    inference UDF output feeds several branches (linking's vocabulary
    and stream join, nodes/triples/counts, the emit dictionary), so
    without the boundary the UDF would re-run per branch. Every other
    stage stays lazy: since emit_triples became a
    single groupBy pass, each output reads the canonical frame exactly
    once, and recomputing it from the materialized mentions is one
    broadcast join — cheaper than a second 10^7-row boundary (measured
    ~10% pipeline win).

    Repartitioned by url BEFORE the boundary: the Python stage erases
    partitioning metadata (MapInPandas output is UnknownPartitioning —
    the UDF could emit anything), so without this the KG pair emission
    pays a corpus-wide (url, sent_id) exchange. HashPartitioning(url)
    on the materialized relation (kept through the checkpoint by
    filling it with AQE off) satisfies the groupBy(url, sent_id)
    clustering (subset rule), so the whole KG stage — final
    collect_set, pair Generate, name reattach — runs exchange-free off
    the boundary. The one mention-stream exchange this adds happens
    inside the embarrassingly-parallel build phase, where it scales; it
    mirrors the parquet policy's url-hash bucketed layout. url is a
    page key — per-key volume is one page's mentions, so no skew."""

    def __init__(self, spark: SparkSession, partitions: int | None = None):
        self.conf = spark.conf
        self.n_parts = (partitions if partitions is not None
                        else spark.sparkContext.defaultParallelism)

    def __call__(self, name: str, build: Callable[[], DataFrame],
                 bucket_on: str | None = None) -> DataFrame:
        if name != "mentions":
            return build()
        df = build().repartition(self.n_parts, bucket_on)
        # Eager: the boundary feeds concurrent branch stages, and a lazy
        # cache lets each recompute the upstream inference chain before
        # any has filled it (measured: 7 s <-> 69 s on which stage won
        # the race). A checkpoint, not persist+count: consumers scan raw
        # blocks against a truncated lineage, not InMemoryTableScan
        # batches (order-of-magnitude per-row cost, measured on the
        # curate and linking boundaries). AQE is off for the fill: under
        # AQE the checkpoint captures UnknownPartitioning
        # (AdaptiveSparkPlanExec is a leaf), losing the url layout.
        aqe_was = self.conf.get("spark.sql.adaptive.enabled")
        self.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return df.localCheckpoint(eager=True)
        finally:
            self.conf.set("spark.sql.adaptive.enabled", aqe_was)


def _parquet(spark: SparkSession, root: str, n_buckets: int) -> Stage:
    """Parquet boundary policy: every stage is a resumable
    ``run_stage``; a stage with ``bucket_on`` is written partitioned by
    ``bucket = pmod(xxhash64(bucket_on), n_buckets)`` (the north_star's
    "partitioned Iceberg graph tables" discipline, parquet stand-in —
    see plans/checkpoint.py)."""
    def stage(name: str, build: Callable[[], DataFrame],
              bucket_on: str | None = None) -> DataFrame:
        if bucket_on is None:
            return run_stage(spark, root, name, build)
        bucket = F.pmod(F.xxhash64(bucket_on), F.lit(n_buckets)).cast("int")
        return run_stage(spark, root, name,
                         lambda: build().withColumn("bucket", bucket),
                         partition_cols=["bucket"])
    return stage


def _chain(spark: SparkSession, pages_source: Callable[[], DataFrame],
           stage: Stage, **options) -> PipelineResult:
    """The flagship stage graph, wired once; ``stage`` is the boundary
    policy (:class:`_InMemory` or :func:`_parquet`). The result owns
    every block the build persisted (:func:`checkpoint.persisted_by`)."""
    res, blocks = persisted_by(
        spark, lambda: _stages(spark, pages_source, stage, **options))
    res.blocks = blocks
    return res


def _stages(
    spark: SparkSession,
    pages_source: Callable[[], DataFrame],
    stage: Stage,
    partitions: int | None = None,
    with_verify: bool = False,
    resolve_disputes: bool = False,
    fuzzy_link: bool = True,
    spec=None,
    nil_merge: bool = False,
    vocab_scale: int = 1,
    backend_factory=None,
    portable_fuzzy: bool = False,
) -> PipelineResult:
    pages = stage("pages", pages_source)
    sentences = stage("sentences", lambda: split_sentences(pages))
    # backend_factory: () -> operators.model.Backend, constructed once
    # per executor task (the real-model injection point — see
    # tools/real_backend_smoke.py). None = the deterministic default.
    if backend_factory is None and vocab_scale > 1:
        from ..operators.gazetteer import scaled_gazetteer
        from ..operators.model import GazetteerBackend, RetryingBackend
        gaz = scaled_gazetteer(vocab_scale)

        def backend_factory():
            return RetryingBackend(GazetteerBackend(gaz))
    # with_verify carries the sentence text on the mention rows so the
    # verification stage is a second mapInPandas with NO join — the
    # text column exists only between the two UDF stages and is
    # dropped before linking.
    base_mentions = stage("mentions", lambda: extract_mentions(
        sentences, spec=spec, partitions=partitions,
        backend_factory=backend_factory,
        carry=("text",) if with_verify else ()), bucket_on="url")
    mentions = base_mentions
    if with_verify:
        mentions = verify_types(
            base_mentions, resolve_disputes=resolve_disputes,
        ).withColumn("type", F.col("type_final")).drop(
            "type_verified", "type_final", "text")
    # aliases materialized alongside nodes/edges under the parquet
    # policy (north_star graph tables: nodes, edges, aliases)
    aliases = stage("aliases",
                    lambda: linking.alias_df(spark, vocab_scale=vocab_scale))
    # The resolution dictionary: one row per distinct normalized
    # surface with its entity (exact alias, else LSH fuzzy, else NIL)
    # and the precomputed entity_name / entity_key / eid. portable_fuzzy:
    # md5-family LSH bands in the fuzzy fallback so a DuckDB oracle can
    # replay the banding exactly (q_pipeline_triples' value-exact
    # check); an O(vocab) config knob, default off. nil_merge clusters
    # the dictionary's NIL rows, so it stays O(vocab) too.
    def resolve():
        res = linking.build_resolution(mentions, aliases, fuzzy=fuzzy_link,
                                       portable_fuzzy=portable_fuzzy)
        return triples_op.merge_nil_surfaces(res) if nil_merge else res
    resolution = stage("resolution", resolve)
    linked = stage("linked", lambda: linking.attach_resolution(
        mentions, resolution), bucket_on="url")
    nodes = stage("nodes", lambda: triples_op.nodes_table(linked))
    # eid→name dictionary for the narrow-shuffle pair emission: a
    # vocabulary-sized distinct over the resolution stage — no corpus
    # pass.
    name_dict = resolution.select("eid", "entity_name").distinct()
    # triples bucket on the SUBJECT hash — downstream per-entity reads
    # (edge listing, degree counts) prune to one bucket instead of
    # scanning the corpus-wide edge table.
    trips = stage("triples", lambda: triples_op.emit_triples(
        linked, name_dict=name_dict), bucket_on="subj")
    counts = stage("triple_counts", lambda: triples_op.triple_counts(trips))
    return PipelineResult(pages, sentences, mentions, linked, nodes,
                          trips, counts)


def build_pipeline(
    spark: SparkSession,
    sf_dir: str,
    partitions: int | None = None,
    with_verify: bool = False,
    resolve_disputes: bool = False,
    fuzzy_link: bool = True,
    replicate: int = 1,
    spec=None,
    nil_merge: bool = False,
    vocab_scale: int = 1,
    backend_factory=None,
    portable_fuzzy: bool = False,
) -> PipelineResult:
    """The pipeline DAG with the in-memory boundary (one materialized
    mention stage, everything else lazy). ``resolve_disputes`` (with
    ``with_verify``) enables the C8 third-query resolution in the
    fused verification pass; ``nil_merge`` additionally merges the
    resolution dictionary's near-duplicate NIL surfaces by connected
    components (operators/triples.py::merge_nil_surfaces).

    The mention stage is filled by one eager job at build time; call
    :meth:`PipelineResult.unpersist` once the outputs are consumed.

    ``vocab_scale > 1`` runs the bench's vocabulary-scaled variant:
    replica texts are token-perturbed and the gazetteer/aliases grow
    ×vocab_scale (sources/pages.py::synthesize_pages(perturb_vocab=),
    operators/gazetteer.py::scaled_*) so the vocabulary-level KG
    stages scale with the corpus like a real Zipf corpus instead of
    staying ~20 surfaces under replication."""
    return _chain(
        spark,
        lambda: pages_with_extracted_text(
            spark, sf_dir, replicate=replicate,
            perturb_vocab=vocab_scale > 1),
        _InMemory(spark, partitions),
        partitions=partitions, with_verify=with_verify,
        resolve_disputes=resolve_disputes, fuzzy_link=fuzzy_link,
        spec=spec, nil_merge=nil_merge, vocab_scale=vocab_scale,
        backend_factory=backend_factory, portable_fuzzy=portable_fuzzy)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_root: str,
    partitions: int | None = None,
    fuzzy_link: bool = True,
    n_buckets: int = 16,
    pages_source=None,
) -> PipelineResult:
    """Materialized, resume-from-checkpoint pipeline (north_rule).

    Each stage is parquet + per-partition manifest; re-running after a
    crash re-executes only incomplete stages. The big graft tables are
    written PARTITIONED:

    - ``mentions`` / ``linked``: ``bucket = pmod(xxhash64(url),
      n_buckets)`` — url-hash bucketing, so a resume, a backfill of
      one bucket, or a per-bucket consumer touches 1/n of the files;
    - ``triples``: bucketed on the SUBJECT hash.
    Nodes, aliases and the resolution dictionary stay unpartitioned
    (vocabulary-sized).

    ``pages_source``: alternative corpus reader returning the pages
    shape (url, warc_ts, lang, text, ...) — e.g. sources.warc::
    pages_from_warc for a crawl directory (the __main__ CLI wires
    this); default is the synthetic parquet corpus at sf_dir."""
    if pages_source is None:
        def pages_source():
            return pages_with_extracted_text(spark, sf_dir)
    return _chain(spark, pages_source,
                  _parquet(spark, checkpoint_root, n_buckets),
                  partitions=partitions, fuzzy_link=fuzzy_link)
