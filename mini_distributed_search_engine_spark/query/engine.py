"""SearchEngine — the user-facing query API.

Replaces the reference's Searcher HTTP endpoint (`jobs/Searcher.java:128-317`:
per-request KVS point lookups + driver-side heap). Construction warms the
session the way Searcher's startup warmed its IDF cache
(Searcher.java:64-81,126): the packed index and stats are cached once,
with the per-term segment bytes and per-role doc counts beside them.

The eager methods (`search`, `search_phrase`, `search_near`,
`search_proximity`) then pick one of two arms per request
(`executor.py`), both running the same shard kernels:

* local: when the bytes the request would pull to the driver — its terms'
  segment streams, plus 8 per allowed doc id of a role filter — are at
  most `LOCAL_ARM_MAX_BYTES` in each segment family, one fetch of the
  selected segments and the kernel on the driver, with no per-request
  Python-worker job;
* distributed: otherwise, the kernel's `groupBy(shard_id).applyInPandas`
  job, exactly what `search_batch` runs.

Either way (and for `search_hybrid`) the <= k result ids are hydrated
with one `doc_id IN (...)` scan. `served_counts()` reports how many
requests each arm took.

    eng = SearchEngine(spark, index_root)           # from a StagedIndexBuild
    eng.search("spark shuffle", k=10)               # -> list of result rows
    eng.search("spark shuffle", mode="and")         # conjunctive (AND)
    eng.search_phrase("sort merge", k=10)           # exact phrase
    eng.search_batch([...Query...])                 # -> DataFrame
"""

from __future__ import annotations

import threading

import numpy as np
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..functions.analyzer import analyze
from ..index.codec_pfd import POS_STREAMS, TF_STREAMS, term_stream_bytes
from .bm25 import Query, bm25_topk, bm25_topk_conjunctive
from .executor import run_local
from .phrase import phrase_match, phrase_plan
from .proximity import proximity_plan
from .span import span_plan
from .wand import compute_shard_bounds, wand_plan, wand_topk

# Largest request, per segment family, in bytes pulled to the driver, that
# the eager methods serve on the local arm; negative = never. Measured
# crossover on 4 CPUs (200K-turn index, 1 and 7 shards, 1 and 2 concurrent
# clients): TF requests stay faster on the driver up to ~6 MB; positional
# ones, whose kernels do far more work per byte, only up to ~300 KB with
# two clients, because concurrent driver-side kernels share one GIL while
# the distributed arm runs them in parallel Python workers.
LOCAL_ARM_MAX_BYTES = {"tf": 4 << 20, "pos": 256 << 10}


class SearchEngine:
    def __init__(self, spark: SparkSession, index_root: str,
                 use_packed: bool = True,
                 bucketed_path: str | None = None,
                 packed_bucketed_path: str | None = None):
        """``bucketed_path``: root of a `write_index_bucketed` layout. When
        given, the engine's term_doc_tf / term_stats come from the TERM-
        BUCKETED catalog tables (re-registered in this session from the
        `_bucketed.json` descriptor), so any full-width term-equality join
        between them — IDF attach on an unpruned term set, posting-vs-
        stats audits, tfidf over the whole vocabulary — plans with ZERO
        exchange on either side (test-asserted). The per-query packed WAND
        path is unaffected; this feeds the exhaustive/analytics legs.

        ``packed_bucketed_path``: root of a `write_packed_bucketed` layout.
        The packed cache is then the shard_id-bucketed scan AS-IS — no
        warmup `repartition(shard_id)` (a one-time O(index) shuffle per
        engine start otherwise); bucketing carries through the
        InMemoryRelation, so per-query WAND stays exchange-free too
        (both plan-asserted)."""
        self.spark = spark
        self.use_packed = use_packed
        self.docs = spark.read.parquet(f"{index_root}/docs/data")
        # driver-arm sizing: term -> segment stream bytes per family,
        # collected once when the family's frame is cached
        self._term_bytes: dict[str, dict[str, int]] = {}
        self._served = {"local": 0, "distributed": 0}
        self._served_lock = threading.Lock()
        self._bucketed_tables: tuple[str, str] | None = None
        if bucketed_path is not None:
            from ..index.build import register_bucketed
            names = register_bucketed(spark, bucketed_path)
            tf_tbl = next(
                (n for n in names if n.endswith("_term_doc_tf")), None)
            ts_tbl = next(
                (n for n in names if n.endswith("_term_stats")), None)
            if tf_tbl is None or ts_tbl is None:
                raise ValueError(
                    f"no term-bucketed term_doc_tf/term_stats tables under "
                    f"{bucketed_path} (tables: {names}); write them with "
                    "write_index_bucketed()")
            self._bucketed_tables = (tf_tbl, ts_tbl)
        self.doc_stats = spark.read.parquet(f"{index_root}/stats/doc_stats")
        self._stats_row = self.doc_stats.collect()[0]  # warm once
        self._corpus_stats = (int(self._stats_row["n_docs"]),
                              float(self._stats_row["avgdl"]))
        if use_packed:
            # Cache hash-partitioned on shard_id: the per-query
            # groupBy(shard_id).applyInPandas then needs NO exchange (the
            # cached partitioning already satisfies its clustered
            # distribution), so a warm query is one shuffle-free scan stage
            # plus the tiny global-rank stage. With a shard-bucketed
            # at-rest layout the warmup repartition shuffle goes away too.
            if packed_bucketed_path is not None:
                from ..index.build import register_bucketed
                names = register_bucketed(spark, packed_bucketed_path)
                # pick the shard-clustered table, not blindly the first
                # descriptor entry (layouts may share a root; pointing
                # --packed-bucketed at a term-bucketed-only root should
                # fail HERE, not later inside compute_shard_bounds)
                packed_tbl = next(
                    (n for n in names if "shard_id" in
                     [f.name for f in spark.table(n).schema.fields]), None)
                if packed_tbl is None:
                    raise ValueError(
                        f"no shard_id-bucketed table under "
                        f"{packed_bucketed_path} (tables: {names}); "
                        "write one with write_packed_bucketed()")
                self.packed = spark.table(packed_tbl).cache()
            else:
                n = spark.sparkContext.defaultParallelism
                self.packed = (spark.read
                               .parquet(f"{index_root}/merged/data")
                               .repartition(n, "shard_id").cache())
            self.packed.count()
            self._term_bytes["tf"] = term_stream_bytes(self.packed,
                                                       TF_STREAMS)
            self._role_docs = {r["role"]: int(r["count"]) for r in
                               self.docs.groupBy("role").count().collect()}
        # per-shard doc lower bounds: computed LAZILY on the first
        # role-filtered query and memoized (wand.compute_shard_bounds note)
        # — unfiltered engines never pay the bounds aggregation at all,
        # filtered ones pay one metadata-scale collect total
        self._shard_bounds: list | None = None
        self._index_root = index_root
        self._positions: DataFrame | None = None
        self._positions_packed: DataFrame | None = None
        self._tombstones: set[int] = set()
        self._tombstones_lock = threading.Lock()
        self._positions_lock = threading.Lock()
        if not use_packed:
            self._ensure_tf()

    def _ensure_term_stats(self) -> DataFrame:
        if not hasattr(self, "term_stats"):
            if self._bucketed_tables is not None:
                # catalog table, left uncached: the fresh-session test
                # asserts the zero-exchange plan straight off the files
                # (bucketing does survive InMemoryRelation — the packed
                # path relies on that — but these analytics-side tables
                # are scanned rarely enough that pinning them is not
                # worth the executor memory)
                self.term_stats = self.spark.table(self._bucketed_tables[1])
            else:
                self.term_stats = self.spark.read.parquet(
                    f"{self._index_root}/stats/term_stats").cache()
                self.term_stats.count()
        return self.term_stats

    def _ensure_tf(self) -> None:
        if not hasattr(self, "tf"):
            if self._bucketed_tables is not None:
                self.tf = self.spark.table(self._bucketed_tables[0])
            else:
                self.tf = self.spark.read.parquet(
                    f"{self._index_root}/term_doc_tf/data").cache()
                self.tf.count()
            self._ensure_term_stats()

    def delete_docs(self, doc_ids) -> int:
        """Record query-time tombstones: the given doc_ids stop appearing
        in every subsequent search (masked inside the WAND kernel /
        filtered out of the exhaustive and phrase paths) WITHOUT touching
        the at-rest index — a delete is O(1) metadata, the LSM write
        discipline. Fold the accumulated set into the index with
        `packed.purge_docs` (and `positions.purge_positions` for the
        positional side) at compaction time, then start a fresh engine
        on the purged index. Returns the total live tombstone count.

        Rebinds the set instead of mutating in place so concurrent
        search threads (`sorted(self._tombstones)`) always iterate a
        complete set — CPython raises on a set that changes size
        mid-iteration; the lock serializes WRITERS with each other
        (two concurrent /delete requests would otherwise each union
        against the same old set and the later rebind would drop the
        earlier one's ids)."""
        with self._tombstones_lock:
            self._tombstones = self._tombstones | {int(d) for d in doc_ids}
            return len(self._tombstones)

    def checkpoint_tombstones(self) -> int:
        """Persist the live query-time tombstone set beside the index
        root (`StagedIndexBuild.record_tombstones` — O(deletes) metadata,
        no index byte touched), so deletes survive an engine restart and
        the next compaction (`StagedIndexBuild.purge()`) folds them into
        every at-rest stage. Returns the count written this call."""
        tomb = self._tomb()
        if not tomb:
            return 0
        from ..plans.pipeline import StagedIndexBuild
        StagedIndexBuild(self.spark, self._index_root).record_tombstones(tomb)
        return len(tomb)

    def _tomb(self) -> list[int] | None:
        """Sorted tombstone snapshot for the query paths (None when
        empty). Reads the rebound set once — safe against a concurrent
        delete_docs (see its docstring)."""
        t = self._tombstones
        return sorted(t) if t else None

    # Above this many live tombstones, DataFrame-side masking switches
    # from a literal NOT IN (Catalyst folds it into the scan filter, zero
    # extra exchange) to a broadcast anti-join: a literal list that grows
    # without bound across /delete requests bloats the plan and can hit
    # codegen/driver limits long before purge_docs compacts (ADVICE r4).
    # The packed path is unaffected — its mask rides the task closure.
    _TOMB_ISIN_MAX = 2048

    def _mask_tomb(self, df: DataFrame, col: str, tomb: list[int]) -> DataFrame:
        if len(tomb) <= self._TOMB_ISIN_MAX:
            return df.where(~F.col(col).isin(tomb))
        ids = F.broadcast(self.spark.createDataFrame(
            [(int(t),) for t in tomb], f"{col} long"))
        return df.join(ids, col, "left_anti")

    def search_batch(self, queries: tuple[Query, ...],
                     hydrate: bool = False, mode: str = "or",
                     role: str | None = None,
                     final_rank: str = "window") -> DataFrame:
        """``final_rank="driver"`` (packed paths only; ignored by the
        exhaustive fallback) heap-merges the per-shard top-k driver-side
        instead of the global rank window — one fewer exchange + stage
        per request, rank-identical (see wand.wand_topk). Eager, so meant
        for serving calls that collect immediately."""
        if mode not in ("or", "and", "proximity"):
            raise ValueError(
                f"mode must be 'or', 'and' or 'proximity', got {mode!r}")
        tomb = self._tomb()
        if mode == "proximity":
            if role is not None:
                raise ValueError("mode='proximity' does not compose with "
                                 "role= yet; filter the results instead")
            out = self._search_proximity(queries, tomb, final_rank)
            return self._hydrate(out, "score") if hydrate else out
        conjunctive = mode == "and"
        if role is not None:
            # metadata-filtered retrieval: the allowed doc_ids are sharded
            # alongside the packed segments (wand.wand_topk allowed_docs —
            # cogrouped per doc-range shard, masked before scoring), so a
            # role= query serves from the SAME compressed index as every
            # other query; no second uncompressed index copy stays hot.
            allowed = self.docs.where(F.col("role") == role).select("doc_id")
            if tomb is not None and not self.use_packed:
                # exhaustive path has no kernel mask: shrink the allowed
                # side instead (same semantics — blocked docs can't rank)
                allowed = self._mask_tomb(allowed, "doc_id", tomb)
            if self.use_packed:
                if self._shard_bounds is None:
                    self._shard_bounds = compute_shard_bounds(self.packed)
                out = wand_topk(self.spark, self.packed, self.doc_stats,
                                queries=queries,
                                corpus_stats=self._corpus_stats,
                                conjunctive=conjunctive,
                                allowed_docs=allowed,
                                shard_bounds=self._shard_bounds,
                                blocked_ids=tomb,
                                final_rank=final_rank)
            elif conjunctive:
                raise ValueError(
                    "role filter with mode='and' needs the packed index")
            else:
                self._ensure_tf()
                out = bm25_topk(self.spark, self.tf, self.term_stats,
                                self.doc_stats, queries=queries,
                                allowed_docs=allowed,
                                corpus_stats=self._corpus_stats)
        elif self.use_packed:
            out = wand_topk(self.spark, self.packed, self.doc_stats,
                            queries=queries,
                            corpus_stats=self._corpus_stats,
                            conjunctive=conjunctive,
                            blocked_ids=tomb,
                            final_rank=final_rank)
        else:
            tf = self.tf if tomb is None else self._mask_tomb(
                self.tf, "doc_id", tomb)
            if conjunctive:
                out = bm25_topk_conjunctive(self.spark, tf, self.term_stats,
                                            self.doc_stats, queries=queries,
                                            corpus_stats=self._corpus_stats)
            else:
                out = bm25_topk(self.spark, tf, self.term_stats,
                                self.doc_stats, queries=queries,
                                corpus_stats=self._corpus_stats)
        if hydrate:
            out = self._hydrate(out, "score")
        return out

    def _hydrate(self, out: DataFrame, score_col: str) -> DataFrame:
        """Attach display metadata to a lazy rank list (`search_batch`;
        the eager methods use `_hydrate_rows`). LEFT join, so a doc
        missing from the store keeps a null-snippet row (the
        inconsistency stays visible) rather than a dropped rank."""
        meta = self.docs.select("doc_id", "conv_id", "turn_idx", "role",
                                F.substring("text", 1, 80).alias("snippet"))
        return out.join(meta, "doc_id", "left").select(
            "query_id", "rank", "doc_id", score_col,
            "conv_id", "turn_idx", "role", "snippet")

    def served_counts(self) -> dict[str, int]:
        """Eager requests served so far per arm:
        {"local": n, "distributed": n}."""
        with self._served_lock:
            return dict(self._served)

    def _count(self, local: bool) -> None:
        with self._served_lock:
            self._served["local" if local else "distributed"] += 1

    def _fits_driver(self, text: str, families: tuple[str, ...],
                     role: str | None = None) -> bool:
        """Whether one request goes to the local arm: in each of
        ``families``, the bytes it would pull to the driver — its
        analyzed terms' segment stream bytes, plus 8 per allowed doc id
        of ``role`` on the TF side — are at most that family's
        `LOCAL_ARM_MAX_BYTES`."""
        terms = set(analyze(text))
        for f in families:
            need = sum(self._term_bytes[f].get(t, 0) for t in terms)
            if role is not None and f == "tf":
                need += 8 * self._role_docs.get(role, 0)
            if need > LOCAL_ARM_MAX_BYTES[f]:
                return False
        return True

    @staticmethod
    def _local_rows(plan, allowed: np.ndarray | None = None) -> list:
        """Run a kernel plan on the driver (`executor.run_local`); rows
        shaped like the distributed arm's collect."""
        if plan is None:
            return []
        ranked = run_local(plan, allowed)
        cols = list(ranked.columns)
        return [Row(**dict(zip(cols, vals))) for vals in
                zip(*(ranked[c].tolist() for c in cols))]

    _HYDRATE_COLS = ("conv_id", "turn_idx", "role", "snippet")

    def _hydrate_rows(self, rows: list) -> list:
        """Display metadata for <= k ranked rows with one scan: a single
        `doc_id IN (...)` SQL string (not a join against a LocalRelation,
        and not `isin`, which costs a py4j call per literal). A doc
        missing from the store — a fused hybrid list may carry a vec_id
        with no doc row if the embeddings drifted from the doc store —
        keeps null fields, as `_hydrate`'s left join does."""
        if not rows:
            return rows
        ids = ",".join(str(int(r["doc_id"])) for r in rows)
        meta = {m["doc_id"]: tuple(m)[1:] for m in
                self.docs.where(f"doc_id IN ({ids})")
                .select("doc_id", "conv_id", "turn_idx", "role",
                        F.substring("text", 1, 80).alias("snippet"))
                .collect()}
        blank = (None,) * len(self._HYDRATE_COLS)
        return [Row(**r.asDict(), **dict(zip(
                    self._HYDRATE_COLS, meta.get(r["doc_id"], blank))))
                for r in rows]

    def _finish(self, rows: list, hydrate: bool) -> list:
        # client-side sort of <= k rows: an orderBy would plan a sort job
        # even over the driver path's LocalRelation
        rows = sorted(rows, key=lambda r: r["rank"])
        return self._hydrate_rows(rows) if hydrate else rows

    def search(self, text: str, k: int = 10, hydrate: bool = True,
               mode: str = "or", role: str | None = None) -> list:
        if mode == "proximity" and role is None:
            return self.search_proximity(text, k=k, hydrate=hydrate)
        q = (Query("q", text, k=k),)
        local = (self.use_packed and mode in ("or", "and")
                 and self._fits_driver(text, ("tf",), role))
        if local:
            plan = wand_plan(self.packed, q, self._corpus_stats,
                             conjunctive=mode == "and",
                             blocked_ids=self._tomb())
            rows = self._local_rows(
                plan, None if role is None else self._role_ids(role))
        else:
            # single-query serving: the driver heap merge replaces the
            # global rank window (one fewer exchange + stage; we collect
            # right away, so the eager semantics cost nothing)
            fr = "driver" if self.use_packed else "window"
            rows = self.search_batch(q, mode=mode, role=role,
                                     final_rank=fr).collect()
        self._count(local)
        return self._finish(rows, hydrate)

    def _role_ids(self, role: str) -> np.ndarray:
        """Sorted doc ids of one role (the local arm's allowed set)."""
        pdf = (self.docs.where(F.col("role") == role).select("doc_id")
               .toPandas())
        return np.sort(pdf["doc_id"].to_numpy(dtype=np.int64))

    def warm_hybrid(self, embeddings_path: str, ivf_root: str,
                    n_centroids: int = 8, n_probe: int = 2) -> None:
        """Warm the semantic leg for `search_hybrid`: cache the embeddings
        table, resolve the IVF centroids ONCE (localized — k x dim doubles),
        and materialize the centroid_id-partitioned inverted lists at
        ``ivf_root``. An existing layout is reused ONLY if its
        `_ivf_meta.json` matches (same embeddings path, centroid count,
        vector count) — a stale or foreign layout would silently serve
        wrong candidates, so anything else is rewritten. After this, a
        hybrid request is two small warm jobs (probe-pruned semantic scan
        + packed-WAND lexical scan) plus the O(candidates) fusion."""
        import json
        import os
        from pathlib import Path
        from ..functions import similarity as S
        if hasattr(self, "_emb"):
            # re-warm: release the previous embeddings cache (a different
            # path is a different logical plan — the new .cache() would
            # not replace it, leaking executor memory per re-warm)
            self._emb.unpersist()
        emb = self.spark.read.parquet(embeddings_path)
        self._emb = emb.cache()
        n_vecs = int(self._emb.count())
        cents = S._resolve_centroids(self._emb, n_centroids, None)
        rows = [(int(r["centroid_id"]), [float(x) for x in r["c_emb"]])
                for r in cents.collect()]
        self._cents = self.spark.createDataFrame(
            rows, "centroid_id int, c_emb array<double>")
        meta = {"embeddings_path": os.path.abspath(embeddings_path),
                "n_centroids": n_centroids, "n_vecs": n_vecs}
        meta_path = Path(ivf_root) / "_ivf_meta.json"
        reusable = (meta_path.exists()
                    and json.loads(meta_path.read_text()) == meta)
        if not reusable:
            S.ivf_write_partitioned(
                S.ivf_assign(self._emb, n_centroids, self._cents), ivf_root)
            meta_path.write_text(json.dumps(meta))
        # resolve the partitioned scan once: per-request re-reads would pay
        # file-listing/schema resolution again; the probe filter still
        # partition-prunes this (uncached — caching would materialize
        # every partition and defeat the pruning)
        self._ivf_df = self.spark.read.parquet(ivf_root)
        self._ivf = (ivf_root, n_centroids, n_probe)

    def search_hybrid(self, text: str, query_vec_id: int, k: int = 10,
                      k_each: int = 20, hydrate: bool = True) -> list:
        """Warm hybrid retrieval: packed-WAND BM25 lexical candidates +
        IVF-ANN semantic candidates (the query's embedding looked up by
        ``query_vec_id`` — embeddings come from an upstream encoder, so a
        serving text has a precomputed vector id), fused with RRF. Same
        fusion as `hybrid.hybrid_ann_topk` (shared `_fuse`); requires
        `warm_hybrid` first. Unknown vec ids raise ValueError (-> HTTP
        400) instead of silently degrading to a lexical-only ranking."""
        if not hasattr(self, "_ivf"):
            raise RuntimeError("call warm_hybrid(embeddings_path, ivf_root) "
                               "before search_hybrid")
        from ..functions import similarity as S
        from .hybrid import RRF_K, _fuse
        ivf_root, n_centroids, n_probe = self._ivf
        # unknown vec ids surface as ValueError from the semantic leg's
        # probe collect (similarity.ivf_partitioned_topk) — no extra
        # per-request validation scan on the serving path
        b = (self.search_batch((Query("q", text, k=k_each),), hydrate=False)
             .select("query_id", "doc_id", "rank"))
        c = S.ivf_partitioned_topk(self.spark, ivf_root, self._emb,
                                   query_ids=(query_vec_id,), k=k_each,
                                   n_centroids=n_centroids, n_probe=n_probe,
                                   centroids=self._cents,
                                   corpus_df=self._ivf_df)
        tomb = self._tomb()
        if tomb is not None:
            # the semantic leg ranks vec_ids == doc_ids; tombstoned docs
            # must not ride in through it (the lexical leg is masked
            # inside search_batch). Re-rank the survivors so their RRF
            # weights match a fresh engine on the purged index — a
            # filtered-out rank-1 must promote rank-2 to 1/(RRF_K+1),
            # not leave a gap. (The leg still supplies one fewer
            # candidate per tombstone in its top-k_each; exact parity
            # would push the mask inside the IVF scan, not worth it for
            # the purge-soon tombstone window.)
            from pyspark.sql import Window
            c = (self._mask_tomb(c, "vec_id", tomb)
                 .withColumn("rank", F.row_number().over(
                     Window.partitionBy("query_vec_id")
                     .orderBy(F.col("cos").desc(), F.col("vec_id").asc()))))
        out = _fuse(self.spark, b, c, (("q", text, query_vec_id),),
                    k, RRF_K)
        return self._finish(out.collect(), hydrate)

    def _search_proximity(self, queries: tuple[Query, ...],
                          tomb: list[int] | None,
                          final_rank: str) -> DataFrame:
        """Proximity-boosted ranking (BM25 + pairwise min-distance bonus)
        over the warm indexes: the packed path cogroups the cached TF
        segments with the packed positional segments per doc-range shard
        (tombstones masked inside the kernel); the exhaustive fallback is
        the declarative row-path with the same masks."""
        if self.use_packed:
            from .proximity import wand_topk_proximity
            return wand_topk_proximity(
                self.spark, self.packed, self._packed_positions_df(),
                self.doc_stats, queries=queries,
                corpus_stats=self._corpus_stats, blocked_ids=tomb,
                final_rank=final_rank)
        from .proximity import bm25_topk_proximity
        self._ensure_tf()
        tf, pos = self.tf, self._positions_df()
        if tomb is not None:
            tf = self._mask_tomb(tf, "doc_id", tomb)
            pos = self._mask_tomb(pos, "doc_id", tomb)
        return bm25_topk_proximity(self.spark, tf, self.term_stats,
                                   self.doc_stats, pos, queries=queries,
                                   corpus_stats=self._corpus_stats)

    def _positions_df(self) -> DataFrame:
        """Positional index: the pipeline's committed 'positions' stage if
        present, else built once from the doc store and cached."""
        if self._positions is None:
            import os
            stage = f"{self._index_root}/positions/data"
            if os.path.isdir(stage):
                self._positions = self.spark.read.parquet(stage).cache()
            else:
                from ..functions.analyzer import term_positions_pandas
                self._positions = term_positions_pandas(
                    self.docs, "text").cache()
            self._positions.count()
        return self._positions

    def _packed_positions_df(self) -> DataFrame:
        """Packed positional segments: the pipeline's committed
        'positions_packed' stage if present (already co-sharded with the
        merged TF layout), else packed once from the row positions
        CO-SHARDED with the live packed TF index via its shard bounds
        (the alignment contract `wand_topk_proximity` requires)."""
        with self._positions_lock:
            if self._positions_packed is None:
                import os
                stage = f"{self._index_root}/positions_packed/data"
                if os.path.isdir(stage):
                    pos = self.spark.read.parquet(stage).cache()
                elif self.use_packed:
                    from ..index.positions import build_packed_positions
                    if self._shard_bounds is None:
                        self._shard_bounds = compute_shard_bounds(self.packed)
                    pos = build_packed_positions(
                        self._positions_df(),
                        shard_bounds=self._shard_bounds).cache()
                else:
                    # exhaustive engine: no TF shards to co-shard with;
                    # standalone doc-range sharding is fine for the
                    # positional-only kernels (phrase/span)
                    from ..index.positions import build_packed_positions
                    pos = build_packed_positions(self._positions_df()).cache()
                pos.count()
                self._term_bytes["pos"] = term_stream_bytes(pos, POS_STREAMS)
                # published last: concurrent requests wait on the lock,
                # then see the frame and its term sizes together
                self._positions_packed = pos
        return self._positions_packed

    def search_phrase(self, text: str, k: int = 10) -> list:
        """Exact phrase search; rows (rank, doc_id, n_occ). Packed
        engines serve from the compressed positional segments (per-shard
        anchor-intersection kernel, tombstones masked in-kernel, either
        arm); the rest use the declarative row path."""
        tomb = self._tomb()
        q = (Query("q", text, k=k),)
        local = False
        if self.use_packed:
            pos = self._packed_positions_df()
            local = self._fits_driver(text, ("pos",))
            if local:
                rows = self._local_rows(phrase_plan(pos, q,
                                                    blocked_ids=tomb))
            else:
                from .phrase import phrase_match_packed
                rows = (phrase_match_packed(self.spark, pos, q,
                                            blocked_ids=tomb)
                        .orderBy("rank").collect())
        else:
            pos = self._positions_df()
            if tomb is not None:
                pos = self._mask_tomb(pos, "doc_id", tomb)
            rows = phrase_match(self.spark, pos, q).orderBy("rank").collect()
        self._count(local)
        return rows

    def search_near(self, text: str, k: int = 10, window: int = 8) -> list:
        """Span/near search: docs where EVERY query term occurs within a
        ``window``-token range, tightest span first; rows
        (rank, doc_id, min_span). Served from the packed positional
        segments with tombstones masked in-kernel, either arm."""
        pos = self._packed_positions_df()
        q = (Query("q", text, k=k),)
        tomb = self._tomb()
        local = self._fits_driver(text, ("pos",))
        if local:
            rows = self._local_rows(span_plan(pos, q, window=window,
                                              blocked_ids=tomb))
        else:
            from .span import span_near_match
            rows = (span_near_match(self.spark, pos, q, window=window,
                                    blocked_ids=tomb)
                    .orderBy("rank").collect())
        self._count(local)
        return rows

    def search_proximity(self, text: str, k: int = 10,
                         hydrate: bool = True) -> list:
        """Proximity-boosted search (BM25 + pairwise min-distance bonus):
        docs whose query terms sit near each other outrank scattered
        matches. Serving twin of the batch `bm25_topk_proximity` /
        `wand_topk_proximity` entries."""
        q = (Query("q", text, k=k),)
        local = False
        if self.use_packed:
            pos = self._packed_positions_df()
            local = self._fits_driver(text, ("tf", "pos"))
        if local:
            rows = self._local_rows(proximity_plan(
                self.packed, pos, q, self._corpus_stats,
                blocked_ids=self._tomb()))
        else:
            fr = "driver" if self.use_packed else "window"
            rows = self.search_batch(q, mode="proximity",
                                     final_rank=fr).collect()
        self._count(local)
        return self._finish(rows, hydrate)

    def suggest(self, prefix: str, n: int = 10) -> list[str]:
        """Autocomplete: index terms under a prefix by descending document
        frequency (Searcher.java:319-337 '/words' + the frontend's prefix
        filter, server-side instead of shipping the whole vocabulary)."""
        rows = (self._ensure_term_stats()
                .where(F.col("term").startswith(prefix.lower()))
                .orderBy(F.col("df").desc(), F.col("term").asc())
                .limit(n).collect())
        return [r["term"] for r in rows]
