"""SearchService facade — the engine's top-level query API.

Mirrors the reference's dispatch surface (Search/SearchService.cs:132-190,
SearchAlgorithm enum Search/SearchAlgorithm.cs:9-19):

    {BallTree, KDTree, Linear, LSH, HNSW, Range, BinaryQuantization,
     ProductQuantization}

Mapping (SURVEY §2.4): BallTree/KDTree/Linear are all EXACT k-NN — the trees
are single-node pruning structures; a distributed scan engine answers them
with the same TakeOrderedAndProject plan (Q1 == Q4 == Q6 result sets).
LSH -> MLlib BRP-LSH; HNSW -> a TRUE partitioned Malkov-Yashunin graph
(operators.hnsw, reference config M=16/MaxM0=32/efC=200/seed 42) once
build_index('hnsw') has run, else the capability-mapped batch ANN;
Range -> radius search; BQ/PQ -> operators.quantization.

Like the reference, `search(text=...)` embeds first (hash embedder default)
and applies the text-length threshold + prefix union (Q3).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neighborly_spark.functions.embedding import EMBEDDERS
from neighborly_spark.operators import ivf as IVF
from neighborly_spark.operators import ivfpq as IVFPQ
from neighborly_spark.operators import lsh as LSH
from neighborly_spark.operators import quantization as QZ
from neighborly_spark.operators.knn import knn, knn_vectorized, range_search, threshold_filter
from neighborly_spark.operators.text_search import text_search

EXACT_METHODS = {"linear", "kdtree", "balltree"}

#: Dimension at or above which the facade's exact path switches from the
#: declarative HOF plan to the BLAS mapInPandas kernel. The HOF fold is
#: interpreted per element (cost ~ dim), the BLAS matmul is vectorized;
#: measured crossover is well below 128 but the HOF path keeps exact
#: sequential-fold float semantics, so we only leave it when the win is
#: decisive (17x at dim 256, 150k rows).
BLAS_DIM_CUTOFF = 128


class SearchService:
    """Vector search over one `vectors` DataFrame.

    The reference's VectorDatabase/SearchService pair collapses to this:
    indexes are batch artifacts (fitted models / code tables) rebuilt by
    build_index() (Q12/Q13 semantics — see streaming.ingest for the
    debounced-refresh equivalent). add_vectors()/remove_vectors() are the
    incremental path: HNSW shard graphs update in place, quantizer code
    tables append/filter against the existing trained models, LSH
    hyperplanes are data-independent and keep serving; build_index()
    re-trains on demand when drift warrants it.
    """

    def __init__(
        self,
        df: DataFrame,
        dim: int,
        id_col: str = "id",
        vec_col: str = "embedding",
        text_col: str = "original_text",
        embedder: str = "hash",
    ):
        self.df = df
        self.dim = dim
        self.id_col = id_col
        self.vec_col = vec_col
        self.text_col = text_col
        #: tag-filtered search support (P9 x the index family): when the
        #: table carries a tags column, index builds copy it into the code/
        #: assignment artifacts so a tag predicate is a PUSHDOWN FILTER on
        #: the code scan itself — zero query-time joins (the shape you want
        #: at 100 TB; a query-time id semi-join would shuffle the artifact)
        self.tags_col = "tags" if "tags" in df.columns else None
        self.embedder = EMBEDDERS[embedder]
        self._lsh_model = None
        self._pq_model = None
        self._pq_encoded = None
        self._bq_threshold: float | None = None
        self._bq_codes: DataFrame | None = None
        self._ivf_model = None
        self._ivf_assigned = None
        self._sq_model = None
        self._sq_codes: DataFrame | None = None
        self._ivfpq_model = None
        self._ivfpq_encoded: DataFrame | None = None
        self._hnsw_graph: DataFrame | None = None
        self._hnsw_shards: int | None = None
        self._hnsw_routing: DataFrame | None = None
        self._hnsw_spatial: bool = False
        #: (path, version, part_ids) when the graph came from a snapshot:
        #: hnsw searches then serve via the worker-resident tier
        #: (hnsw_search_batch_snapshot) — graph bytes never enter the plan.
        #: Cleared by any mutation (the in-memory graph diverges).
        self._hnsw_snapshot: tuple | None = None
        #: SQ8 payload params of the backing snapshot ({"vmin","vmax"}) or
        #: None for float artifacts; meaningful only while _hnsw_snapshot
        #: is set (every consumer checks the snapshot first)
        self._hnsw_sq8: dict | None = None
        #: (path, version) when the ivfpq code table came from a snapshot:
        #: unfiltered batch searches then serve worker-resident
        #: (ivfpq_knn_join_snapshot — code bytes never enter the plan).
        #: Cleared by any mutation, like the hnsw snapshot.
        self._ivfpq_snapshot: tuple | None = None
        #: Q13 drift bookkeeping: encode-only appends are cheap but encode
        #: against the TRAINED model — rows appended since each quantizer's
        #: build, plus the SQ batch-drift accumulators (operators.
        #: quantization.sq_append_drift), feed index_stats()'s
        #: needs_retrain flag. Reset per index by build_index().
        self._appended: dict[str, int] = {}
        self._sq_drift = {"out_of_range_rows": 0, "err_sum": 0.0, "err_rows": 0}
        #: ONE trained coarse-cell model per (table version, nlist), shared
        #: by the ivf / ivfpq / spatial-hnsw builds (round-5 VERDICT 6):
        #: the trainers are deterministic, so sharing changes nothing but
        #: the fit cost — and probe semantics stay consistent across the
        #: three indexes. Cleared on add/remove (a later build_index must
        #: retrain on the CURRENT table).
        self._coarse_models: dict[int, object] = {}
        #: metric each quantized index was built for (round-5 VERDICT 8):
        #: metric='cosine' builds encode the L2-NORMALIZED table (the
        #: 2-2cos bridge: euclidean rank over unit vectors IS cosine rank),
        #: and search maps the tier's euclidean distances back to exact
        #: similarities via cos = 1 - d^2/2. Recall evidence:
        #: docs/RECALL.md cosine-bridge section.
        self._index_metric: dict[str, str] = {}

    def _coarse(self, nlist: int):
        m = self._coarse_models.get(nlist)
        if m is None:
            m = IVF.ivf_train_sampled(self.df, nlist=nlist, vec_col=self.vec_col)
            self._coarse_models[nlist] = m
        return m

    # --- index lifecycle (Q12 BuildIndex / BuildAllIndexes) -----------------

    #: index methods that accept build_index(metric='cosine') — their
    #: artifacts bake the geometry in (codes / assignments / graph edges),
    #: so the cosine bridge must be applied at BUILD time
    _COSINE_METHODS = frozenset(
        {"bq", "binaryquantization", "sq", "ivfpq", "hnsw",
         "ivf", "pq", "productquantization"}
    )
    #: methods cosine-SERVABLE at query time: everything above plus lsh,
    #: whose BRP hyperplanes are data-independent — the raw-fit model
    #: projects normalized vectors just as well, so no cosine build exists
    _COSINE_SERVE = _COSINE_METHODS | {"lsh"}

    def build_index(
        self, method: str, spatial: bool = False, metric: str = "euclidean",
        opq: bool = False,
    ) -> None:
        """``spatial=True`` (hnsw only) shards the graph by a coarse
        quantizer instead of id hash — the layout that makes
        search(hnsw_probe_shards=p) discriminative (see operators.hnsw).

        ``metric='cosine'`` (bq/sq/pq/ivf/ivfpq/hnsw) trains and encodes
        over the L2-NORMALIZED table: on unit vectors
        ||a-b||^2 = 2 - 2 cos(a,b), so the euclidean machinery ranks by
        cosine; search(metric='cosine') then normalizes the query and
        reports similarities (the exact path's D2 semantics). LSH needs no
        cosine build — its hyperplanes are data-independent, so
        search(method='lsh', metric='cosine') simply normalizes at query
        time."""
        method = method.lower()
        metric = metric.lower()
        if metric not in ("euclidean", "cosine"):
            raise ValueError(f"unsupported index metric {metric!r}")
        if opq and method not in ("ivfpq", "pq", "productquantization"):
            raise ValueError("opq=True applies to the ivfpq and pq indexes only")
        if metric == "cosine" and method not in self._COSINE_METHODS:
            raise ValueError(
                "metric='cosine' index builds are supported for "
                "bq/sq/pq/ivf/ivfpq/hnsw; lsh serves cosine directly at "
                "query time (its hyperplanes are data-independent — no "
                "cosine build exists)"
            )
        if metric == "cosine":
            from neighborly_spark.functions.distance import normalize

            build_df = self.df.withColumn(self.vec_col, normalize(F.col(self.vec_col)))
        else:
            build_df = self.df
        if method == "lsh":
            self._lsh_model = LSH.fit_lsh(self.df, self.vec_col, dim=self.dim)
        elif method in ("bq", "binaryquantization"):
            # build = train threshold + materialize the (id, code) table once
            # (BinaryQuantization.cs encodes in the index constructor); every
            # query then prefilters on dim/32 of the float bytes
            self._bq_threshold = QZ.bq_global_threshold(build_df, self.vec_col)
            self._bq_codes = QZ.bq_encode_table(
                build_df, self.dim, self._bq_threshold, self.id_col, self.vec_col,
                extra_cols=[self.tags_col] if self.tags_col else None,
            )
        elif method in ("pq", "productquantization"):
            # sampled one-pass trainer: recall >= the MLlib fit at equal cost
            # at the 150k tier, and its cost is constant in data size where
            # MLlib's is m x iters full scans (docs/RECALL.md verdict)
            # opq=True (round 10): learn an orthogonal rotation first (the
            # ivfpq trainer is method-agnostic); codes live rotated, the
            # rerank tier still scores original floats
            self._pq_model = QZ.pq_train_sampled(
                build_df, self.dim, vec_col=self.vec_col, opq=opq
            )
            # vectorized encode: the serving tier (Arrow-batched matmul argmin,
            # ~150x the interpreted-HOF pq_encode, identical codes test-gated)
            self._pq_encoded = QZ.pq_encode_vectorized(
                build_df, self._pq_model, self.vec_col
            ).cache()
        elif method == "ivf":
            # sampled one-pass coarse quantizer: statistically equivalent
            # recall to the MLlib fit at the 150k tier once measured with
            # enough queries (docs/RECALL.md 20-query table), at one scan
            # instead of iterations x scans; the model is the SHARED
            # per-table-version coarse artifact (_coarse) — except cosine
            # builds, whose cells live in the normalized space
            self._ivf_model = (
                self._coarse(16) if metric == "euclidean"
                else IVF.ivf_train_sampled(build_df, vec_col=self.vec_col)
            )
            self._ivf_assigned = IVF.ivf_assign(build_df, self._ivf_model, self.vec_col).cache()
        elif method == "sq":
            # 8-bit scalar quantizer: one min/max pass trains, one encode
            # pass materializes the packed-byte table (1/4 the float bytes)
            self._sq_model = QZ.sq_train(build_df, self.dim, self.vec_col)
            self._sq_codes = QZ.sq_encode_table(
                build_df, self._sq_model, self.id_col, self.vec_col,
                extra_cols=[self.tags_col] if self.tags_col else None,
            )
        elif method == "ivfpq":
            # composed coarse-quantizer + residual-PQ index (operators.ivfpq
            # — the FAISS IVFPQ recipe): sampled deterministic trainers, one
            # Arrow encode pass materializes (id, cell, code). The cell
            # layer is the SHARED per-table-version coarse model.
            self._ivfpq_model = IVFPQ.ivfpq_train(
                build_df, self.dim, vec_col=self.vec_col,
                # the shared coarse model is fit on the RAW table; a cosine
                # build needs cells in the normalized space (and an OPQ
                # build needs them in ROTATED space), so those fit their
                # own (still deterministic, still snapshot-persisted)
                coarse=self._coarse(16) if metric == "euclidean" and not opq else None,
                # opq=True (round 9): learn an orthogonal rotation first;
                # the model carries it, every search path applies it
                opq=opq,
            )
            enc = IVFPQ.ivfpq_encode(build_df, self._ivfpq_model, self.id_col, self.vec_col)
            if self.tags_col:
                # one build-time join buys join-free tag-filtered queries
                enc = enc.join(self.df.select(self.id_col, self.tags_col), self.id_col)
            self._ivfpq_encoded = enc.cache()
            self._ivfpq_encoded.count()
            self._ivfpq_snapshot = None  # fresh build: no snapshot backs it
        elif method == "hnsw":
            # true partitioned graph (operators.hnsw): requires a numeric
            # id (graph adjacency serializes neighbor ids as bigint). Built
            # eagerly and cached — the shard graphs are the index artifact.
            # Shard count auto-sized from the row count (hnsw_shard_count)
            # and pinned EXPLICITLY (hash repartition on the id) so
            # add_vectors can route new rows to their shard with
            # pmod(hash(id-as-long), n). The routing table (per-shard
            # centroid+radius) is built alongside for probe_shards search.
            from neighborly_spark.operators import hnsw as HN

            n = HN.hnsw_shard_count(self.df.count())
            graph = HN.hnsw_build(
                # cosine builds graph over the NORMALIZED vectors (same
                # bridge as the quantized tiers; the graph stores them)
                build_df, self.dim, self.id_col, self.vec_col,
                num_partitions=n, spatial=spatial,
                # the shared coarse model is fit on the RAW table; cosine
                # needs cells in the normalized space (own deterministic fit)
                coarse_model=self._coarse(n) if spatial and metric == "euclidean" else None,
                # tags ride INTO the graph artifact like every other index
                # (P9 x Q8): tag-filtered search is then a pushdown
                # expression on the graph scan + a filtered beam descent
                tags_col=self.tags_col,
            ).cache()
            graph.count()
            self._hnsw_graph = graph
            self._hnsw_shards = n
            self._hnsw_spatial = spatial
            self._hnsw_snapshot = None  # fresh build: no snapshot backs it
            self._hnsw_sq8 = None
            self._hnsw_routing = HN.hnsw_routing_table(graph).cache()
            self._hnsw_routing.count()
        elif method in EXACT_METHODS or method == "range":
            pass  # exact paths need no artifact
        else:
            raise ValueError(f"unknown index method {method!r}")
        # a (re)build trains on the CURRENT table: drift counters restart
        key = {"binaryquantization": "bq", "productquantization": "pq"}.get(method, method)
        self._appended[key] = 0
        self._index_metric[key] = metric
        if key == "sq":
            self._sq_drift = {"out_of_range_rows": 0, "err_sum": 0.0, "err_rows": 0}

    def add_vectors(self, new_df: DataFrame) -> None:
        """Incremental Add (the reference's VectorDatabase.Add + Modified
        event): new rows union into the table; the HNSW shard graphs are
        updated IN PLACE (operators.hnsw.hnsw_add — only receiving shards
        rebuilt); trained quantizer artifacts APPEND the new rows encoded
        against the EXISTING trained model (round-3 VERDICT item 7 —
        BQ threshold / IVF centroids / PQ codebooks stay as trained, only
        the new rows pay encode cost; Q13 eventual-freshness semantics:
        re-train on drift remains a build_index call away). The LSH model
        keeps serving untouched — BRP hyperplanes are data-independent."""
        new_rows = new_df.select(*self.df.columns)
        self.df = self.df.unionByName(new_rows)
        # new table version: the NEXT build_index must train fresh (the
        # already-built indexes keep serving their trained models)
        self._coarse_models = {}
        self._ivfpq_snapshot = None  # in-memory code table diverges from disk

        def rows_for(key: str) -> DataFrame:
            # appends encode in the index's OWN metric space: a cosine
            # build holds normalized codes, so its appends normalize too
            if self._index_metric.get(key, "euclidean") == "cosine":
                from neighborly_spark.functions.distance import normalize

                return new_rows.withColumn(
                    self.vec_col, normalize(F.col(self.vec_col))
                )
            return new_rows
        if self._hnsw_graph is not None and self._hnsw_shards is None:
            # legacy snapshot without a recorded shard count: full rebuild
            self.build_index("hnsw", metric=self._index_metric.get("hnsw", "euclidean"))
        elif self._hnsw_graph is not None:
            from neighborly_spark.operators import hnsw as HN

            self._hnsw_snapshot = None  # in-memory graph diverges from disk
            self._hnsw_sq8 = None
            if self._hnsw_spatial and self._hnsw_routing is None:
                self._refresh_hnsw_routing()
            updated = HN.hnsw_add(
                # a cosine-built graph stores normalized vectors: inserts
                # normalize too (rows_for)
                self._hnsw_graph, rows_for("hnsw"), self._hnsw_shards,
                id_col=self.id_col, vec_col=self.vec_col,
                routing=self._hnsw_routing if self._hnsw_spatial else None,
            ).cache()
            updated.count()
            self._hnsw_graph.unpersist()
            self._hnsw_graph = updated
            self._refresh_hnsw_routing()
        if self._bq_codes is not None and self._bq_threshold is not None:
            # encode the new rows with the bare expression (no intermediate
            # cache — bq_encode_table would cache+count a table we only read
            # once here, orphaning it in executor memory on every add)
            new_codes = rows_for("bq").select(
                F.col(self.id_col),
                QZ.bq_encode_expr(
                    F.col(self.vec_col), self.dim, self._bq_threshold
                ).alias("code"),
                *([F.col(self.tags_col)] if self.tags_col else []),
            )
            appended = self._bq_codes.unionByName(new_codes).cache()
            appended.count()
            self._bq_codes.unpersist()
            self._bq_codes = appended
        if self._ivf_model is not None and self._ivf_assigned is not None:
            appended = self._ivf_assigned.unionByName(
                IVF.ivf_assign(rows_for("ivf"), self._ivf_model, self.vec_col)
            ).cache()
            appended.count()
            self._ivf_assigned.unpersist()
            self._ivf_assigned = appended
        if self._pq_model is not None and self._pq_encoded is not None:
            appended = self._pq_encoded.unionByName(
                QZ.pq_encode_vectorized(rows_for("pq"), self._pq_model, self.vec_col)
            ).cache()
            appended.count()
            self._pq_encoded.unpersist()
            self._pq_encoded = appended
        if self._sq_model is not None and self._sq_codes is not None:
            new_codes = rows_for("sq").select(
                F.col(self.id_col),
                QZ.sq_encode_expr(self.vec_col, self._sq_model).alias("code"),
                *([F.col(self.tags_col)] if self.tags_col else []),
            )
            appended = self._sq_codes.unionByName(new_codes).cache()
            appended.count()
            self._sq_codes.unpersist()
            self._sq_codes = appended
        if self._ivfpq_model is not None and self._ivfpq_encoded is not None:
            new_enc = IVFPQ.ivfpq_encode(
                rows_for("ivfpq"), self._ivfpq_model, self.id_col, self.vec_col
            )
            if self.tags_col and self.tags_col in self._ivfpq_encoded.columns:
                new_enc = new_enc.join(
                    new_rows.select(self.id_col, self.tags_col), self.id_col
                )
            appended = self._ivfpq_encoded.unionByName(new_enc).cache()
            appended.count()
            self._ivfpq_encoded.unpersist()
            self._ivfpq_encoded = appended
        # drift bookkeeping for the stale-encode indexes (hnsw inserts are
        # REAL graph updates and LSH hyperplanes are data-independent, so
        # neither goes stale): one batch-sized aggregate when sq is built
        # (range + decode-error drift), else one count
        built = [
            k for k, art in (
                ("bq", self._bq_codes), ("ivf", self._ivf_assigned),
                ("pq", self._pq_encoded), ("sq", self._sq_codes),
                ("ivfpq", self._ivfpq_encoded),
            ) if art is not None
        ]
        if built:
            if self._sq_model is not None:
                d = QZ.sq_append_drift(rows_for("sq"), self._sq_model, self.vec_col)
                n_new = d["rows"]
                self._sq_drift["out_of_range_rows"] += d["out_of_range_rows"]
                self._sq_drift["err_sum"] += d["mean_sq_err"] * d["rows"]
                self._sq_drift["err_rows"] += d["rows"]
            else:
                n_new = new_rows.count()
            for k in built:
                self._appended[k] = self._appended.get(k, 0) + n_new

    @staticmethod
    def _check_query(query_vec) -> list:
        """Reject non-finite query vectors up front: a NaN query makes every
        distance NaN — the top-k would silently return k arbitrary rows (NaN
        sorts last but ALL rows tie). One clear error beats that."""
        import math

        q = [float(v) for v in query_vec]
        if any(math.isnan(v) or math.isinf(v) for v in q):
            raise ValueError("query_vec contains NaN/Inf — distances would be undefined")
        return q

    #: Appended-row fraction above which a stale-encode index is flagged
    #: needs_retrain: a quarter of the artifact encoded against a model
    #: that never saw those rows is where recall drift becomes plausible
    #: even without distribution shift. SQ additionally flags on measured
    #: shift: mean append decode error above the in-range bound eps^2
    #: (guaranteed <= 1x for in-range data, so >1 PROVES clipping).
    APPEND_FRAC_RETRAIN = 0.25

    def _drift(self, key: str, rows: int) -> dict:
        """needs_retrain evidence for one stale-encode index (Q13's
        eventual-freshness contract made observable — round-5 VERDICT 7)."""
        appended = self._appended.get(key, 0)
        base = max(rows - appended, 1)
        frac = appended / base
        d = {"appended_rows": appended, "appended_frac": round(frac, 4)}
        needs = frac > self.APPEND_FRAC_RETRAIN
        if key == "sq" and self._sq_model is not None:
            sd = self._sq_drift
            eps2 = sum((s / 2.0) ** 2 for s in self._sq_model.scale)
            ratio = (
                (sd["err_sum"] / sd["err_rows"]) / eps2
                if sd["err_rows"] and eps2 > 0 else 0.0
            )
            # strict: ONE out-of-range append voids sq_range_search's
            # lossless bound (see its docstring) even if retraining isn't
            # yet warranted
            d["sq_lossless"] = sd["out_of_range_rows"] == 0
            d["append_err_ratio"] = round(ratio, 4)
            needs = needs or ratio > 1.0
        d["needs_retrain"] = needs
        return d

    def index_stats(self) -> list[dict]:
        """Ops surface: one dict per built index — artifact row count,
        compression vs the float table, the serving knobs, and the Q13
        drift signal (appended_rows/appended_frac/needs_retrain; sq also
        sq_lossless + append_err_ratio — see _drift). Driver-side (counts
        of cached artifacts); returns [] when nothing is built."""
        out = []
        if self._lsh_model is not None:
            out.append({"index": "lsh", "rows": None,
                        "detail": f"{self._lsh_model.getNumHashTables()} hash tables",
                        "needs_retrain": False})  # hyperplanes are data-independent
        if self._bq_codes is not None:
            rows = self._bq_codes.count()
            out.append({"index": "bq", "rows": rows,
                        "compression": QZ.bq_compression_ratio(self.dim),
                        "detail": f"threshold={self._bq_threshold}",
                        **self._drift("bq", rows)})
        if self._pq_encoded is not None:
            rows = self._pq_encoded.count()
            out.append({"index": "pq", "rows": rows,
                        "compression": self._pq_model.compression_ratio(self.dim),
                        "detail": f"m={self._pq_model.m}, k'={self._pq_model.num_centroids}",
                        **self._drift("pq", rows)})
        if self._ivf_assigned is not None:
            rows = self._ivf_assigned.count()
            out.append({"index": "ivf", "rows": rows,
                        "detail": f"nlist={self._ivf_model.nlist}",
                        **self._drift("ivf", rows)})
        if self._sq_codes is not None:
            rows = self._sq_codes.count()
            out.append({"index": "sq", "rows": rows,
                        "compression": self._sq_model.compression_ratio(),
                        "detail": "8-bit affine per dim",
                        **self._drift("sq", rows)})
        if self._ivfpq_encoded is not None:
            rows = self._ivfpq_encoded.count()
            out.append({"index": "ivfpq", "rows": rows,
                        "compression": self._ivfpq_model.compression_ratio(self.dim),
                        "detail": f"nlist={self._ivfpq_model.ivf.nlist}, m={self._ivfpq_model.pq.m}",
                        # worker-resident durable serving active (save/load)
                        "snapshot_backed": self._ivfpq_snapshot is not None,
                        **self._drift("ivfpq", rows)})
        if self._hnsw_graph is not None:
            out.append({"index": "hnsw", "rows": self._hnsw_graph.count(),
                        "detail": f"shards={self._hnsw_shards}, spatial={self._hnsw_spatial}",
                        "snapshot_backed": self._hnsw_snapshot is not None,
                        "needs_retrain": False})  # adds are real graph inserts
        return out

    def _quant_metric_guard(self, key: str, built: bool, metric: str) -> None:
        """Lazy-build the index for the REQUESTED metric, or refuse when an
        existing artifact was built for the other one — the trained codes
        bake the geometry in (a cosine query cannot be served off raw-space
        codes), so serving across metrics would silently return garbage."""
        want = "cosine" if metric == "cosine" else "euclidean"
        if not built:
            self.build_index(key, metric=want)
            return
        have = self._index_metric.get(key, "euclidean")
        if have != want:
            raise ValueError(
                f"the {key} index was built for metric={have!r}; rebuild "
                f"with build_index({key!r}, metric={want!r}) to serve "
                f"{want} queries"
            )

    def _serve_cosine(self, out: DataFrame) -> DataFrame:
        """Map a euclidean-over-unit-vectors result to the exact path's D2
        cosine semantics: on unit vectors cos = 1 - d^2/2 EXACTLY, the
        mapping is monotone-decreasing (euclid-asc order IS similarity-desc
        order, ties unchanged), and the reported column becomes the
        similarity — most-similar first, (sim desc, id asc).

        Edge divergence (documented, not handled): a ZERO-magnitude row
        normalizes to itself (distance.normalize's no-NaN contract), so
        the bridged tiers report sim = 1 - (1 + 0)/2 = 0.5 for it, where
        the exact path computes NaN (0/0) and ranks it last. Zero vectors
        are degenerate input either way; the exact path is authoritative
        for them."""
        d = F.col("dist")
        out = out.withColumn("dist", F.lit(1.0) - d * d / F.lit(2.0))
        return out.orderBy(F.col("dist").desc(), F.col(self.id_col).asc())

    def _tag_predicate(self, tag_any, tag_all):
        """Tag filter Column (P9 semantics: any = arrays_overlap, all =
        intersect-covers), or None when no filter is requested. Literals are
        cast to the table's own tags element type."""
        if not tag_any and not tag_all:
            return None
        if self.tags_col is None:
            raise ValueError("tag filters need a tags column on the table")
        tags_type = self.df.schema[self.tags_col].dataType
        col = F.col(self.tags_col)
        pred = None
        if tag_any:
            c = F.arrays_overlap(col, F.lit(list(tag_any)).cast(tags_type))
            pred = c
        if tag_all:
            # no int() coercion: tags may be any element type (the literal
            # is cast to the table's own tags type); dedup via set only
            want = sorted(set(tag_all))
            c = F.size(F.array_intersect(col, F.lit(want).cast(tags_type))) == len(want)
            pred = c if pred is None else (pred & c)
        return pred

    def _filtered_artifact(self, artifact: DataFrame, pred, name: str) -> DataFrame:
        """Apply a tag predicate to an index artifact. Artifacts built while
        the table carries tags embed the column, so the predicate is a plain
        pushdown filter on the (cached/parquet) code scan — no join."""
        if pred is None:
            return artifact
        if self.tags_col not in artifact.columns:
            raise ValueError(
                f"the {name} index was built without the tags column; "
                "rebuild it (build_index) to enable tag-filtered search"
            )
        return artifact.filter(pred)

    def _refresh_hnsw_routing(self) -> None:
        """Rebuild the cached per-shard centroid+radius table after an
        incremental graph update — one aggregate over the (cached) graph,
        shard-count rows out."""
        from neighborly_spark.operators import hnsw as HN

        if self._hnsw_routing is not None:
            self._hnsw_routing.unpersist()
        self._hnsw_routing = HN.hnsw_routing_table(self._hnsw_graph).cache()
        self._hnsw_routing.count()

    def _hnsw_request(self, pred, probe_shards, tag_any, tag_all):
        """The hnsw request checks search() and the batch tier share;
        returns (graph, allowed_col, snapshot). A tag predicate becomes
        the ``_allowed`` mask over the artifact-embedded tags (round-5
        VERDICT 2 filtered descent — an expression, no join). Probe
        routing needs a spatial layout and a routing table. ``snapshot``
        is None for an in-memory graph, else hnsw_search_batch_snapshot
        bound to the saved shards, routing and tag filter — call it as
        ``snapshot(queries, k, ef=...)``: only the queries enter its plan,
        workers read + LRU-cache their shards' parquet, and the tags ride
        the snapshot shards (whose columns mirror the graph checked
        here)."""
        from neighborly_spark.operators import hnsw as HN

        graph, allowed_col = self._hnsw_graph, None
        if pred is not None:
            if self.tags_col not in graph.columns:
                raise ValueError(
                    "the hnsw index was built without the tags "
                    "column; rebuild it (build_index) to enable "
                    "tag-filtered search"
                )
            allowed_col = "_allowed"
            graph = graph.withColumn(allowed_col, pred)
        if probe_shards is not None:
            if not self._hnsw_spatial:
                # the service KNOWS the layout (the standalone operator
                # doesn't): hash shards are spatially uniform, so probe
                # routing over them collapses recall (~p/num_shards —
                # measured 0.03-0.41 vs the 0.8 bar, docs/RECALL.md
                # round-4 table). Refuse rather than silently serve it.
                raise ValueError(
                    "hnsw_probe_shards requires a spatial graph layout: "
                    "build_index('hnsw', spatial=True). The current hash "
                    "layout must be searched exhaustively "
                    "(hnsw_probe_shards=None)."
                )
            if self._hnsw_routing is None:
                self._refresh_hnsw_routing()  # e.g. snapshot-loaded graph
        snapshot = None
        if self._hnsw_snapshot is not None:
            pth, ver, pids = self._hnsw_snapshot
            snapshot = functools.partial(
                HN.hnsw_search_batch_snapshot, self.df.sparkSession, pth, pids,
                version=ver, probe_shards=probe_shards,
                routing=self._hnsw_routing if probe_shards is not None else None,
                tag_any=tag_any, tag_all=tag_all,
                tags_col=self.tags_col or "tags", sq8=self._hnsw_sq8,
            )
        return graph, allowed_col, snapshot

    def remove_vectors(self, ids: list) -> None:
        """Incremental RemoveById: rows filter out of the table; HNSW
        rebuilds ONLY the shards that contained a removed id
        (operators.hnsw.hnsw_remove); quantizer code/assignment tables
        filter out the removed ids while the trained models stay valid
        (a removal cannot invalidate a threshold/codebook — it only makes
        it slightly stale, the same eventual-freshness contract as adds)."""
        self.df = self.df.filter(~F.col(self.id_col).isin(ids))
        self._coarse_models = {}  # new table version (see add_vectors)
        self._ivfpq_snapshot = None  # in-memory code table diverges from disk
        if self._hnsw_graph is not None:
            from neighborly_spark.operators import hnsw as HN

            self._hnsw_snapshot = None  # in-memory graph diverges from disk
            self._hnsw_sq8 = None
            updated = HN.hnsw_remove(self._hnsw_graph, [int(i) for i in ids]).cache()
            updated.count()
            self._hnsw_graph.unpersist()
            self._hnsw_graph = updated
            self._refresh_hnsw_routing()
        keep = ~F.col(self.id_col).isin(ids)
        if self._bq_codes is not None:
            self._bq_codes = self._bq_codes.filter(keep)
        if self._ivf_assigned is not None:
            self._ivf_assigned = self._ivf_assigned.filter(keep)
        if self._pq_encoded is not None:
            self._pq_encoded = self._pq_encoded.filter(keep)
        if self._sq_codes is not None:
            self._sq_codes = self._sq_codes.filter(keep)
        if self._ivfpq_encoded is not None:
            self._ivfpq_encoded = self._ivfpq_encoded.filter(keep)

    def build_all_indexes(self) -> None:
        for m in ("lsh", "bq", "pq", "ivf", "sq", "ivfpq", "hnsw"):
            self.build_index(m)

    # --- snapshot persistence (the reference's save/load database story,
    # VectorDatabase.cs:642-730: vectors + every built index artifact) ----

    def save(self, path: str, hnsw_sq8: bool = False) -> None:
        """Persist vectors + every BUILT index artifact + a manifest:
        vectors as parquet; LSH as the MLlib model; BQ as its trained
        threshold + the materialized code table; IVF as centroids (JSON)
        + the cluster-partitioned assignment layout; PQ as its codebooks
        (JSON) + the encoded table. load() restores a SearchService that
        serves every built method without re-training.

        ``hnsw_sq8=True`` (round 10) stores the hnsw graph's vector
        payload 8-bit scalar-quantized (~4x fewer artifact bytes -> ~4x
        cheaper cold shard loads, 4x more shards per storage byte);
        resident serving memory and the beam kernel are unchanged
        (dequantize-on-load), results are recall-gated rather than
        bit-equal to a float-artifact save."""
        from neighborly_spark.sources.etl import save_database

        models = {"lsh": self._lsh_model} if self._lsh_model is not None else {}
        save_database(self.df, path, self.dim, models=models)
        extras: dict = {
            "id_col": self.id_col, "vec_col": self.vec_col, "text_col": self.text_col,
            # which metric each quantized index was built for (cosine
            # builds hold normalized codes — the loader must know)
            "index_metric": self._index_metric,
        }
        if self._bq_codes is not None:
            self._bq_codes.write.mode("overwrite").parquet(f"{path}/indexes/bq_codes")
            extras["bq_threshold"] = self._bq_threshold
        if self._ivf_model is not None:
            IVF.ivf_write(self._ivf_assigned, f"{path}/indexes/ivf")
            extras["ivf"] = {
                "nlist": self._ivf_model.nlist,
                "centroids": self._ivf_model.centroids,
            }
        if self._pq_model is not None:
            self._pq_encoded.write.mode("overwrite").parquet(f"{path}/indexes/pq_encoded")
            m = self._pq_model
            extras["pq"] = {
                "m": m.m, "sub_dim": m.sub_dim, "num_centroids": m.num_centroids,
                "centroids": m.centroids,
                # OPQ rotation (round 10): None unless built with opq=True
                "rotation": m.rotation,
            }
        if self._sq_model is not None:
            self._sq_codes.write.mode("overwrite").parquet(f"{path}/indexes/sq_codes")
            extras["sq"] = {"vmin": self._sq_model.vmin, "vmax": self._sq_model.vmax}
        if self._ivfpq_model is not None:
            import uuid as _uuid

            # cluster-partitioned layout: probe filters partition-prune
            self._ivfpq_encoded.write.mode("overwrite").partitionBy(
                IVF.CLUSTER_COL
            ).parquet(f"{path}/indexes/ivfpq_encoded")
            ip = self._ivfpq_model
            extras["ivfpq"] = {
                "nlist": ip.ivf.nlist,
                "coarse_centroids": ip.ivf.centroids,
                "m": ip.pq.m, "sub_dim": ip.pq.sub_dim,
                "num_centroids": ip.pq.num_centroids,
                "pq_centroids": ip.pq.centroids,
                # OPQ rotation (round 9): None unless built with opq=True
                "rotation": ip.rotation,
                # worker-resident serving manifest (ivfpq_knn_join_snapshot):
                # the version keys the per-worker cell LRU so a re-save can
                # never serve stale codes
                "version": _uuid.uuid4().hex,
            }
            # the freshly written snapshot backs the live service too
            # (mutations clear it — see add_vectors/remove_vectors)
            self._ivfpq_snapshot = (
                f"{path}/indexes/ivfpq_encoded", extras["ivfpq"]["version"],
            )
        if self._hnsw_graph is not None:
            # shard graphs as parquet partitioned by shard: a search that
            # targeted one shard would partition-prune (S9 for the graph);
            # hnsw_sq8 swaps the float payload for packed 8-bit codes
            from neighborly_spark.operators import hnsw as HN

            sq8_params = HN.hnsw_snapshot_write(
                self._hnsw_graph, f"{path}/indexes/hnsw_graph",
                dim=self.dim, sq8=hnsw_sq8,
            )
            import uuid

            extras["hnsw"] = {
                # SQ8 payload params (None for float artifacts): load()
                # and every snapshot consumer dequantize with these
                "sq8": sq8_params,
                "num_shards": self._hnsw_shards, "spatial": self._hnsw_spatial,
                # snapshot-serving manifest (operators.hnsw.
                # hnsw_search_batch_snapshot): the shard list saves the
                # server a listing, the version keys the per-worker graph
                # LRU so a re-save can never serve stale graphs
                "version": uuid.uuid4().hex,
                "part_ids": sorted(
                    r.part_id
                    for r in self._hnsw_graph.select("part_id").distinct().collect()
                ),
            }
            # the freshly-written snapshot backs the live service too: serve
            # worker-resident from here on (mutations clear it — see
            # add_vectors/remove_vectors/build_index)
            self._hnsw_snapshot = (
                f"{path}/indexes/hnsw_graph", extras["hnsw"]["version"],
                [int(p) for p in extras["hnsw"]["part_ids"]],
            )
            self._hnsw_sq8 = sq8_params
        # Hadoop FS API, not driver-local open(): the parquet artifacts
        # above land on any scheme (s3a://, hdfs://) — the manifest must
        # not be the one piece that crashes after they all committed
        # (round-10 VERDICT; same fix class as the DedupStore manifest)
        from neighborly_spark.fsio import write_json

        write_json(self.df.sparkSession, f"{path}/service.json", extras)

    @classmethod
    def load(cls, spark, path: str) -> "SearchService":
        """Restore a saved SearchService: vectors, manifest, and every
        persisted index artifact (no re-training, no re-encoding)."""
        import numpy as np

        from neighborly_spark.operators.ivf import IVFModel, _ArrayCentroids
        from neighborly_spark.operators.quantization import PQModel, _ArrayKMeansModel
        from neighborly_spark.sources.etl import load_database

        df, manifest = load_database(spark, path)
        from neighborly_spark.fsio import read_json

        extras = read_json(spark, f"{path}/service.json")
        if extras is None:
            raise ValueError(f"no service manifest at {path!r}/service.json")
        svc = cls(
            df, dim=manifest["dim"], id_col=extras["id_col"],
            vec_col=extras["vec_col"], text_col=extras["text_col"],
        )
        svc._index_metric = dict(extras.get("index_metric", {}))
        if "lsh" in manifest.get("indexes", []):
            from pyspark.ml.feature import BucketedRandomProjectionLSHModel

            svc._lsh_model = BucketedRandomProjectionLSHModel.load(f"{path}/indexes/lsh")
        if "bq_threshold" in extras:
            svc._bq_threshold = extras["bq_threshold"]
            codes = spark.read.parquet(f"{path}/indexes/bq_codes").cache()
            codes.count()
            svc._bq_codes = codes
        if "ivf" in extras:
            svc._ivf_model = IVFModel(
                _ArrayCentroids(np.asarray(extras["ivf"]["centroids"])),
                extras["ivf"]["nlist"],
            )
            svc._ivf_assigned = IVF.ivf_read(spark, f"{path}/indexes/ivf")
            # the snapshot's coarse model IS the shared per-version artifact
            svc._coarse_models[svc._ivf_model.nlist] = svc._ivf_model
        if "pq" in extras:
            p = extras["pq"]
            svc._pq_model = PQModel(
                [_ArrayKMeansModel(np.asarray(c)) for c in p["centroids"]],
                p["m"], p["sub_dim"], p["num_centroids"],
                rotation=p.get("rotation"),
            )
            svc._pq_encoded = spark.read.parquet(f"{path}/indexes/pq_encoded")
        if "sq" in extras:
            from neighborly_spark.operators.quantization import SQModel

            svc._sq_model = SQModel(extras["sq"]["vmin"], extras["sq"]["vmax"])
            codes = spark.read.parquet(f"{path}/indexes/sq_codes").cache()
            codes.count()
            svc._sq_codes = codes
        if "ivfpq" in extras:
            from neighborly_spark.operators.ivfpq import IVFPQModel

            ip = extras["ivfpq"]
            # reuse the ivf snapshot's coarse model ONLY when the saved
            # centroids are bit-equal (the two indexes may have been built
            # on different table versions before the save)
            saved = np.asarray(ip["coarse_centroids"])
            cand = svc._coarse_models.get(ip["nlist"])
            if cand is not None and np.array_equal(np.asarray(cand.centroids), saved):
                coarse = cand
            else:
                coarse = IVFModel(_ArrayCentroids(saved), ip["nlist"])
            svc._ivfpq_model = IVFPQModel(
                coarse,
                PQModel(
                    [_ArrayKMeansModel(np.asarray(c)) for c in ip["pq_centroids"]],
                    ip["m"], ip["sub_dim"], ip["num_centroids"],
                ),
                rotation=ip.get("rotation"),
            )
            if (
                ip.get("rotation") is None
                and svc._index_metric.get("ivfpq", "euclidean") == "euclidean"
            ):
                # only a RAW-space coarse model may enter the shared
                # registry: an OPQ build's centroids live in rotated space
                # and a cosine build's in normalized space — a later
                # build_index('ivf') / spatial-hnsw reusing them would
                # assign raw vectors against the wrong geometry (round-9
                # review finding)
                svc._coarse_models.setdefault(ip["nlist"], coarse)
            svc._ivfpq_encoded = spark.read.parquet(f"{path}/indexes/ivfpq_encoded")
            if ip.get("version"):
                # snapshot-loaded code table: unfiltered batch searches
                # serve worker-resident (see search_batch)
                svc._ivfpq_snapshot = (f"{path}/indexes/ivfpq_encoded", ip["version"])
        if extras.get("hnsw"):
            svc._hnsw_graph = spark.read.parquet(f"{path}/indexes/hnsw_graph")
            hn = extras["hnsw"]
            sq8 = hn.get("sq8") if isinstance(hn, dict) else None
            if sq8:
                # SQ8 artifact: the in-memory view (DataFrame serving
                # fallback, routing refresh, future saves/mutations)
                # decodes the packed codes back to floats — one codegen
                # expression on the graph scan, no Python
                from neighborly_spark.operators.quantization import (
                    SQModel,
                    sq_decode_expr,
                )

                sqm = SQModel(sq8["vmin"], sq8["vmax"])
                svc._hnsw_graph = svc._hnsw_graph.withColumn(
                    "embedding",
                    sq_decode_expr("embedding_sq8", sqm).cast("array<float>"),
                ).drop("embedding_sq8")
                svc._hnsw_sq8 = dict(sq8)
            svc._hnsw_shards = hn.get("num_shards") if isinstance(hn, dict) else None
            svc._hnsw_spatial = bool(hn.get("spatial")) if isinstance(hn, dict) else False
            if isinstance(hn, dict) and hn.get("version") and hn.get("part_ids"):
                # snapshot-loaded graphs serve through the worker-resident
                # tier: queries ship, graph bytes don't (see search())
                svc._hnsw_snapshot = (
                    f"{path}/indexes/hnsw_graph", hn["version"],
                    [int(p) for p in hn["part_ids"]],
                )
        return svc

    # --- queries -------------------------------------------------------------

    def search(
        self,
        query_vec: list[float] | None = None,
        text: str | None = None,
        k: int = 10,
        method: str = "kdtree",  # the reference's default (VectorDatabase.cs:192)
        threshold: float | None = None,
        metric: str = "euclidean",
        exact_path: str = "auto",  # auto | hof | blas
        pq_rerank: bool = True,  # method='pq': serve the rerank tier (>=0.8
        # recall bar); False = the reference's pure-ADC tier
        hnsw_probe_shards: int | None = None,  # method='hnsw': descend only
        # the top-p shards by the routing table's centroid+radius lower
        # bound (sublinear in shard count); None = exhaustive all-shards
        hnsw_ef: int | None = None,  # method='hnsw': beam width (None =
        # operators.hnsw.EF_DEFAULT) — the recall/latency dial; raise it
        # under selective tag filters or hard geometries
        sq_rerank: bool = False,  # method='sq': rank purely on dequantized
        # distances (default — the per-dim decode error is <= scale/2, so
        # the measured recall is 1.00 WITHOUT touching the float table;
        # see sq_range_search's eps bound for the formal backing). True
        # adds an exact-rerank id join over the shortlist — opt-in for
        # adversarial geometries; it was the dominant cost of the default
        # path (bench sq_search_150k 1.18 s, mostly the rerank join)
        ivfpq_nprobe: int = 10,  # method='ivfpq': probed coarse cells —
        # 10/16 clears the 0.8 bar on uniform data (docs/RECALL.md);
        # clusterable data probes far fewer
        ivf_nprobe: int = 4,  # method='ivf': probed coarse cells (the
        # operator default; raise on hard/uniform geometries)
        tag_any: list | None = None,  # P9 x search: keep rows overlapping
        # ANY of these tag ids; filter-then-rank (the top-k is computed
        # WITHIN the filtered set — post-filtering a shortlist would lose
        # recall under selective filters)
        tag_all: list | None = None,  # rows carrying ALL of these tag ids
    ) -> DataFrame:
        method = method.lower()
        pred = self._tag_predicate(tag_any, tag_all)
        base_df = self.df.filter(pred) if pred is not None else self.df
        if text is not None:
            return text_search(
                base_df, text, k, self.dim, threshold, self.id_col, self.vec_col, self.text_col
            )
        if query_vec is None:
            raise ValueError("provide query_vec or text")
        query_vec = self._check_query(query_vec)

        # cosine through the index tiers (round-5 VERDICT 8): serve the
        # euclidean machinery over the NORMALIZED index + normalized query
        # (||a-b||^2 = 2 - 2 cos on unit vectors), then map distances back
        # to exact similarities in _serve_cosine
        cosine_quant = metric == "cosine" and method in self._COSINE_SERVE
        if cosine_quant:
            import math

            from neighborly_spark.functions.distance import normalize

            nrm = math.sqrt(sum(v * v for v in query_vec)) or 1.0
            query_vec = [v / nrm for v in query_vec]
            base_df = base_df.withColumn(self.vec_col, normalize(F.col(self.vec_col)))

        if method in EXACT_METHODS:
            use_blas = exact_path == "blas" or (
                exact_path == "auto"
                and self.dim >= BLAS_DIM_CUTOFF
                and metric in ("euclidean", "cosine")
            )
            if use_blas:
                # carry every non-key column so the BLAS result's schema
                # matches the declarative path (columns in table order + dist)
                payload = [c for c in base_df.columns if c not in (self.id_col, self.vec_col)]
                out = knn_vectorized(
                    base_df, query_vec, k, metric, self.id_col, self.vec_col,
                    payload_cols=[self.vec_col] + payload,
                )
                out = out.select(*base_df.columns, "dist")
            else:
                out = knn(base_df, query_vec, k, metric, self.id_col, self.vec_col)
        elif method == "lsh":
            # BRP hyperplanes are data-independent, so the model serves any
            # row subset: the tag filter simply prunes the hashed table
            out = LSH.lsh_knn(base_df, query_vec, k, self.vec_col, model=self._lsh_model)
        elif method == "hnsw":
            if self._hnsw_graph is None and metric == "cosine":
                # cosine must be baked into the graph edges — build it so
                # (the euclidean no-graph case keeps the capability-mapped
                # fallback below, which a cosine query cannot use)
                self.build_index("hnsw", metric="cosine")
            if self._hnsw_graph is not None:
                from neighborly_spark.operators import hnsw as HN

                self._quant_metric_guard("hnsw", True, metric)
                graph, allowed_col, snapshot = self._hnsw_request(
                    pred, hnsw_probe_shards, tag_any, tag_all
                )
                if snapshot is not None:
                    hits = snapshot([(0, query_vec)], k, ef=hnsw_ef).drop("query_id")
                else:
                    hits = HN.hnsw_search(
                        graph, query_vec, k, ef=hnsw_ef,
                        probe_shards=hnsw_probe_shards, routing=self._hnsw_routing,
                        allowed_col=allowed_col,
                    )
                # rejoin payload columns so the schema matches the exact
                # path (k-row broadcast join; AQE picks broadcast)
                out = (
                    self.df.withColumn(self.id_col, F.col(self.id_col).cast("long"))
                    .join(F.broadcast(hits.withColumnRenamed("id", self.id_col)), self.id_col)
                    .select(*self.df.columns, "dist")
                    # the payload join does not preserve the shard-merge
                    # order; re-impose (dist, id) on the k joined rows
                    .orderBy(F.col("dist").asc(), F.col(self.id_col).asc())
                )
            else:
                # not built: capability-mapped batch ANN (SURVEY §7.2 ph. 5)
                out = LSH.hnsw_equivalent_knn(base_df, query_vec, k, self.vec_col, self.id_col)
        elif method in ("bq", "binaryquantization"):
            self._quant_metric_guard("bq", self._bq_codes is not None, metric)
            out = QZ.bq_search_precoded(
                base_df, self._filtered_artifact(self._bq_codes, pred, "bq"),
                query_vec, k, self.dim,
                self._bq_threshold, self.id_col, self.vec_col,
            )
        elif method in ("pq", "productquantization"):
            self._quant_metric_guard("pq", self._pq_model is not None, metric)
            if pq_rerank:
                # serve the rerank tier by default: same trained artifacts,
                # but recall 0.89-1.00 vs pure ADC's 0.36-0.66 measured in
                # docs/RECALL.md — the shortlist join touches only 5k float
                # rows. Pure ADC (the reference's tier,
                # ProductQuantization.cs:330-380) stays opt-in.
                out = QZ.pq_search_rerank(
                    base_df,
                    self._filtered_artifact(self._pq_encoded, pred, "pq"),
                    self._pq_model, query_vec, k,
                    shortlist=max(5 * k, 50), id_col=self.id_col, vec_col=self.vec_col,
                )
            else:
                out = QZ.pq_search(
                    self._filtered_artifact(self._pq_encoded, pred, "pq"),
                    self._pq_model, query_vec, k, self.id_col,
                )
        elif method == "ivf":
            self._quant_metric_guard("ivf", self._ivf_model is not None, metric)
            out = IVF.ivf_search(
                self._filtered_artifact(self._ivf_assigned, pred, "ivf"),
                self._ivf_model, query_vec, k, nprobe=ivf_nprobe,
                id_col=self.id_col, vec_col=self.vec_col,
            )
        elif method == "sq":
            self._quant_metric_guard("sq", self._sq_model is not None, metric)
            # pure dequantized tier by default (recall 1.00 measured with
            # NO rerank — the eps decode bound); sq_rerank=True opts in
            out = QZ.sq_search_precoded(
                base_df, self._filtered_artifact(self._sq_codes, pred, "sq"),
                self._sq_model, query_vec, k,
                id_col=self.id_col, vec_col=self.vec_col, rerank=sq_rerank,
            )
        elif method == "ivfpq":
            self._quant_metric_guard("ivfpq", self._ivfpq_model is not None, metric)
            # serving default = ADC shortlist + exact rerank, the tier that
            # clears the 0.8 bar on uniform data (pure ADC is the documented
            # fast tier — operators.ivfpq)
            out = IVFPQ.ivfpq_search_rerank(
                base_df,
                self._filtered_artifact(self._ivfpq_encoded, pred, "ivfpq"),
                self._ivfpq_model, query_vec, k,
                nprobe=ivfpq_nprobe, id_col=self.id_col, vec_col=self.vec_col,
            )
        else:
            raise ValueError(f"unknown search method {method!r}")

        if cosine_quant:
            out = self._serve_cosine(out)
        return threshold_filter(out, threshold, self.dim)

    def knn_join(
        self,
        queries: DataFrame,
        k: int = 10,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_embedding",
        require_exact_floats: bool = False,
        allow_approx: bool = True,
        data_count: int | None = None,
        query_count: int | None = None,
        ivfpq_nprobe: int = 10,
        hnsw_ef: int | None = None,
    ) -> DataFrame:
        """Batch k-NN join — THE default multi-query entry point, routed
        through the cardinality planner (plans.knn_planner): declarative
        folds for tiny work, the BLAS kernel for collectible query sides,
        the driver-chunked blocked path for the 100k-1M exact band, and the
        LSH-bucketed join beyond that (recall-gated). Pass
        ``require_exact_floats=True`` to pin the sequential-fold oracle
        path; ``allow_approx=False`` to forbid the LSH tier (the planner
        then degrades to blocked). Counts can come from table stats to skip
        the planner's count() jobs.

        The built, euclidean hnsw/ivfpq/sq indexes enter the planner as
        its index tiers, each served by _batch_tier — the same code
        search_batch(method=tier) runs, so a planner-routed join serves a
        tier exactly as the batch call does (snapshot-backed artifacts
        worker-resident, spatial graphs probe-routed over
        DEFAULT_PROBE_SHARDS shards, hash layouts exhaustively).
        ``ivfpq_nprobe`` / ``hnsw_ef`` reach those tiers (round-8 VERDICT
        3: clusterable corpora shouldn't pay the uniform-data default's
        2.5x probe I/O just because the join was planner-routed). Defaults
        match search_batch's: nprobe=10, ef=EF_DEFAULT. No-ops when the
        planner picks a non-index strategy."""
        from neighborly_spark.plans.knn_planner import (
            DEFAULT_PROBE_SHARDS,
            KnnJoinPlan,
            knn_join_auto,
        )

        if require_exact_floats:
            from neighborly_spark.operators.knn import knn_join as exact_knn_join

            out = exact_knn_join(
                self.df, queries, k, id_col=self.id_col, vec_col=self.vec_col,
                query_id_col=query_id_col, query_vec_col=query_vec_col,
            )
            plan = KnnJoinPlan("exact", "caller requires sequential-fold float semantics")
        else:
            built = {"hnsw": self._hnsw_graph, "ivfpq": self._ivfpq_model, "sq": self._sq_model}
            knobs = dict(
                k=k, ivfpq_nprobe=ivfpq_nprobe, hnsw_ef=hnsw_ef,
                hnsw_probe_shards=DEFAULT_PROBE_SHARDS if self._hnsw_spatial else None,
            )
            out, plan = knn_join_auto(
                self.df.select(self.id_col, self.vec_col),
                queries,
                k,
                self.dim,
                id_col=self.id_col,
                vec_col=self.vec_col,
                query_id_col=query_id_col,
                query_vec_col=query_vec_col,
                data_count=data_count,
                query_count=query_count,
                allow_approx=allow_approx,
                # cosine-built artifacts hold NORMALIZED-space codes and
                # graphs — the euclidean join planner must not serve them
                indexes={
                    tier: functools.partial(self._batch_tier, tier, **knobs)
                    for tier, artifact in built.items()
                    if artifact is not None
                    and self._index_metric.get(tier, "euclidean") == "euclidean"
                },
            )
        self.last_join_plan = plan
        return out

    def search_batch(
        self,
        queries,
        k: int = 10,
        method: str = "linear",
        ivfpq_nprobe: int = 10,
        rerank: bool = True,
        shortlist: int | None = None,
        hnsw_probe_shards: int | None = None,
        hnsw_query_salt: int = 1,
        hnsw_ef: int | None = None,
        tag_any: list | None = None,
        tag_all: list | None = None,
        metric: str = "euclidean",
    ) -> DataFrame:
        """Index-backed batch search: top-k per query in ONE pass over the
        method's index artifact (vs one scan per query via search()).
        ``queries`` is a (query_id, query_embedding) DataFrame or a
        [(query_id, vector), ...] list; a list becomes a JVM LocalRelation,
        so every tier serves both shapes through its one DataFrame path.
        Methods: the exact family (routes through knn_join's
        cardinality planner), 'lsh' (approx_knn_join: one bucket join for
        all queries), and the index tiers of _batch_tier, which knn_join's
        planner serves too: 'bq' (bq_knn_join: one Hamming-prefilter scan
        of the packed codes), 'sq' (sq_knn_join: one dequantized code-table
        scan), 'ivfpq' (ivfpq_knn_join: one probed-cells pass, per-query
        residual LUTs), 'hnsw' (hnsw_search_batch: each shard graph
        rehydrates once for all queries). Returns (query_id, id, dist).

        ``metric='cosine'`` (bq/sq/ivfpq, against a cosine-built index —
        see build_index) normalizes the queries and maps the returned dist
        column to the similarity (cos = 1 - d^2/2; the per-query top-k is
        unchanged since the mapping is monotone)."""
        method = method.lower()
        metric = metric.lower()
        # same serve set as search(): the quantized cosine-built indexes
        # plus lsh (BRP hyperplanes are data-independent — only the query
        # and table normalize, the fitted model serves unchanged)
        cosine_quant = metric == "cosine" and method in self._COSINE_SERVE
        if metric == "cosine" and not cosine_quant:
            raise ValueError(
                "metric='cosine' batch search is served by the bq/sq/ivfpq/"
                "hnsw cosine-built indexes and lsh; exact cosine joins go "
                "through knn_join over distance.normalize-d input"
            )

        # same non-finite guard as search(), SYMMETRIC across input shapes:
        # a NaN query would silently return k arbitrary rows from every
        # tier, and silently FILTERING it from a DataFrame input would make
        # callers diffing query ids against results see unexplained gaps.
        # Both input shapes therefore raise. The DataFrame check is one
        # bounded action over the (query-sized, never data-sized) table —
        # isEmpty stops at the first offending row.
        if not isinstance(queries, DataFrame):
            queries = [(q[0], self._check_query(q[1])) for q in queries]
        else:
            from neighborly_spark.operators.quantization import finite_vector_pred

            if not queries.filter(
                ~F.coalesce(finite_vector_pred(F.col("query_embedding")), F.lit(False))
            ).isEmpty():
                raise ValueError(
                    "queries contain a null/NaN/Inf embedding — distances "
                    "would be undefined (same contract as list inputs)"
                )

        pred = self._tag_predicate(tag_any, tag_all)
        base_df = self.df.filter(pred) if pred is not None else self.df
        if cosine_quant:
            # normalized table view for the rerank joins + normalized
            # queries: the cosine-built artifacts hold normalized codes
            from neighborly_spark.functions.distance import normalize

            base_df = base_df.withColumn(self.vec_col, normalize(F.col(self.vec_col)))
            if isinstance(queries, DataFrame):
                queries = queries.withColumn(
                    "query_embedding", normalize(F.col("query_embedding"))
                )
            else:
                import math

                queries = [
                    (qid, [v / (math.sqrt(sum(x * x for x in vec)) or 1.0) for v in vec])
                    for qid, vec in queries
                ]

        if method in EXACT_METHODS:
            if pred is not None:
                from neighborly_spark.operators.knn import knn_join as exact_knn_join

                return exact_knn_join(
                    base_df, self._query_frame(queries), k,
                    id_col=self.id_col, vec_col=self.vec_col,
                )
            return self.knn_join(self._query_frame(queries), k)
        if method == "lsh":
            # bucket join over the (possibly tag-filtered) table — BRP
            # hyperplanes are data-independent, so the fitted model serves
            # any row subset; radius 2.5 matches the planner's LSH tier
            from neighborly_spark.operators.lsh import approx_knn_join

            if self._lsh_model is None:
                self.build_index("lsh")
            out = approx_knn_join(
                base_df, self._query_frame(queries), k, radius=2.5,
                id_col=self.id_col, vec_col=self.vec_col,
                dim=self.dim, model=self._lsh_model,
            )
        else:
            out = self._batch_tier(
                method, queries, k, base_df=base_df, metric=metric,
                ivfpq_nprobe=ivfpq_nprobe, rerank=rerank, shortlist=shortlist,
                hnsw_probe_shards=hnsw_probe_shards, hnsw_query_salt=hnsw_query_salt,
                hnsw_ef=hnsw_ef, tag_any=tag_any, tag_all=tag_all,
            )
        if cosine_quant:
            d = F.col("dist")
            out = out.withColumn("dist", F.lit(1.0) - d * d / F.lit(2.0))
        return out

    def _query_frame(self, queries) -> DataFrame:
        """A query list as a (query_id, query_embedding array<float>)
        frame; DataFrames pass through. JVM LocalRelation, not
        createDataFrame(list): the batch tiers scan the query frame in
        MULTIPLE plan branches (prefilter, pass counts, fallback pools),
        and a python-RDD-backed frame pays a python worker round trip per
        scan."""
        if isinstance(queries, DataFrame):
            return queries
        from neighborly_spark.session import local_relation_queries

        return local_relation_queries(self.df.sparkSession, queries, elem_type="float")

    def _batch_tier(
        self,
        method: str,
        queries,
        k: int,
        base_df: DataFrame | None = None,
        metric: str = "euclidean",
        ivfpq_nprobe: int = 10,
        rerank: bool = True,
        shortlist: int | None = None,
        hnsw_probe_shards: int | None = None,
        hnsw_query_salt: int = 1,
        hnsw_ef: int | None = None,
        tag_any: list | None = None,
        tag_all: list | None = None,
    ) -> DataFrame:
        """THE batch serving code of the bq/sq/ivfpq/hnsw index tiers, with
        two entry points: search_batch (after it validates and, for
        cosine, normalizes the queries) and knn_join (which hands it to the
        planner as the tiers' ``indexes``). ``base_df`` is the
        tag-filtered, possibly normalized float table (default the
        table). ``queries`` is a DataFrame or a list — the ivfpq/hnsw
        operators turn a list into their own float64 LocalRelation
        (round-6 VERDICT 1). Returns (query_id, id, dist) with raw
        euclidean distances."""
        pred = self._tag_predicate(tag_any, tag_all)
        base_df = self.df if base_df is None else base_df
        if method in ("bq", "binaryquantization"):
            self._quant_metric_guard("bq", self._bq_codes is not None, metric)
            return QZ.bq_knn_join(
                base_df, self._filtered_artifact(self._bq_codes, pred, "bq"),
                self._query_frame(queries), k, self.dim, self._bq_threshold,
                id_col=self.id_col, vec_col=self.vec_col,
            )
        if method == "sq":
            self._quant_metric_guard("sq", self._sq_model is not None, metric)
            return QZ.sq_knn_join(
                self._filtered_artifact(self._sq_codes, pred, "sq"),
                self._sq_model, self._query_frame(queries), k,
                df=base_df if rerank else None, id_col=self.id_col,
                vec_col=self.vec_col, rerank=rerank, shortlist=shortlist,
            )
        if method == "ivfpq":
            self._quant_metric_guard("ivfpq", self._ivfpq_model is not None, metric)
            if self._ivfpq_snapshot is not None and (
                pred is None
                or (self.tags_col and self.tags_col in self._ivfpq_encoded.columns)
            ):
                # snapshot-backed code table: serve worker-resident — only
                # the probe assignments enter the plan, each worker reads +
                # LRU-caches its cell's parquet directly. Tag-filtered
                # queries stay worker-resident too (round 9, r8 VERDICT 2):
                # the tags ride the saved code table (build_index embeds
                # them), the mask evaluates inside the task before ADC
                # scoring — same recipe as the hnsw snapshot tier. Only a
                # tags-less artifact falls through (to the artifact path's
                # rebuild-guidance error).
                pth, ver = self._ivfpq_snapshot
                return IVFPQ.ivfpq_knn_join_snapshot(
                    self.df.sparkSession, pth, self._ivfpq_model,
                    queries, k, version=ver,
                    nprobe=ivfpq_nprobe, df=base_df if rerank else None,
                    rerank=rerank, shortlist=shortlist,
                    id_col=self.id_col, vec_col=self.vec_col,
                    tag_any=tag_any, tag_all=tag_all,
                    tags_col=self.tags_col or "tags",
                )
            return IVFPQ.ivfpq_knn_join(
                self._filtered_artifact(self._ivfpq_encoded, pred, "ivfpq"),
                self._ivfpq_model, queries, k,
                nprobe=ivfpq_nprobe, df=base_df if rerank else None,
                rerank=rerank, shortlist=shortlist,
                id_col=self.id_col, vec_col=self.vec_col,
            )
        if method == "hnsw":
            from neighborly_spark.operators.hnsw import hnsw_search_batch

            if self._hnsw_graph is None:
                self.build_index("hnsw", metric=metric)
            self._quant_metric_guard("hnsw", True, metric)
            graph, allowed_col, snapshot = self._hnsw_request(
                pred, hnsw_probe_shards, tag_any, tag_all
            )
            if snapshot is not None:
                # large fan-in parallelism knob (round 8): splits each
                # shard's queries across hnsw_query_salt tasks
                return snapshot(queries, k, ef=hnsw_ef, query_salt=hnsw_query_salt)
            return hnsw_search_batch(
                graph, queries, k, ef=hnsw_ef,
                probe_shards=hnsw_probe_shards,
                routing=self._hnsw_routing if self._hnsw_spatial else None,
                allowed_col=allowed_col,
                # the service refreshes routing on every mutation, so the
                # stale-routing guard's extra part_id scan is unnecessary
                trust_routing=True,
            )
        raise ValueError(f"unknown batch search method {method!r}")

    def range_search(
        self,
        query_vec: list[float] | None = None,
        radius: float = 1.0,
        metric: str = "euclidean",
        text: str | None = None,
        method: str = "linear",
    ) -> DataFrame:
        """Radius search by vector or by text (the reference embeds the text
        first — SearchService.cs RangeSearch(text, radius, ...) overload).

        ``method='sq'`` serves the LOSSLESS quantized tier
        (operators.quantization.sq_range_search / sq_range_search_cosine —
        identical rows to the exact scan at 1/4 the scanned float bytes,
        backed by the decode-error bound) WHEN the bound's precondition
        holds: an sq index built for the REQUESTED metric (euclidean, or
        cosine against a cosine build — round-6 VERDICT 7) with no
        out-of-range appends (index_stats' sq_lossless flag). When an
        append has escaped the trained box — the one case where the bound
        is void — the call silently serves the exact scan instead: same
        rows, just without the byte savings, until build_index('sq')
        restores the guarantee."""
        if radius <= 0:
            raise ValueError("Radius must be greater than 0")  # SearchService.cs:229
        if text is not None:
            q = self.embedder(F.lit(text), self.dim)
            return range_search(self.df, q, radius, metric, self.id_col, self.vec_col)
        if query_vec is None:
            raise ValueError("provide query_vec or text")
        if method.lower() == "sq":
            if metric not in ("euclidean", "cosine"):
                raise ValueError("the sq range tier serves euclidean or cosine")
            self._quant_metric_guard("sq", self._sq_model is not None, metric)
            query_vec = self._check_query(query_vec)
            if self._sq_drift["out_of_range_rows"] == 0:
                if metric == "cosine":
                    return QZ.sq_range_search_cosine(
                        self.df, self._sq_codes, self._sq_model, query_vec,
                        radius, id_col=self.id_col, vec_col=self.vec_col,
                    )
                return QZ.sq_range_search(
                    self.df, self._sq_codes, self._sq_model, query_vec, radius,
                    id_col=self.id_col, vec_col=self.vec_col,
                )
            # lossless bound voided by an out-of-range append: exact scan
        return range_search(self.df, query_vec, radius, metric, self.id_col, self.vec_col)
