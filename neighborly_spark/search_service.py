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
import uuid
from dataclasses import dataclass, field

import numpy as np
from pyspark.ml.feature import BucketedRandomProjectionLSHModel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neighborly_spark.functions.embedding import EMBEDDERS
from neighborly_spark.operators import hnsw as HN
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

#: the reference's long method names for the bq / pq tiers
_ALIASES = {"binaryquantization": "bq", "productquantization": "pq"}


@dataclass(eq=False)
class _Index:
    """One built index: everything SearchService knows about it."""

    #: the trained model (lsh: the MLlib model; bq: its threshold; hnsw:
    #: None — the shard graphs are the whole index)
    model: object
    #: code / assignment table or shard graphs (lsh: None)
    artifact: DataFrame | None
    #: metric it was built for (a cosine build holds the normalized
    #: table's codes — build_index's cosine bridge)
    metric: str = "euclidean"
    #: Q13 drift bookkeeping since the build (appends encode against the
    #: TRAINED model): appended rows, plus sq's sq_append_drift
    #: accumulators; feeds index_stats()'s needs_retrain (see _drift)
    drift: dict = field(default_factory=lambda: {
        "appended_rows": 0, "out_of_range_rows": 0, "err_sum": 0.0, "err_rows": 0,
    })
    #: the saved snapshot backing the artifact — ivfpq (path, version),
    #: hnsw (path, version, part_ids) — or None; while set, batch searches
    #: serve worker-resident. Cleared by any mutation (the in-memory
    #: artifact diverges from disk).
    snapshot: tuple | None = None
    #: hnsw only: shard count (None for a legacy snapshot), spatial
    #: layout, the cached per-shard centroid+radius routing table, and the
    #: backing snapshot's SQ8 payload params ({"vmin","vmax"}; None for
    #: float artifacts; meaningful only while ``snapshot`` is set)
    shards: int | None = None
    spatial: bool = False
    routing: DataFrame | None = None
    sq8: dict | None = None


def _cached(df: DataFrame) -> DataFrame:
    df = df.cache()
    df.count()
    return df


def _replace_artifact(rec: _Index, df: DataFrame) -> None:
    """Swap in an updated artifact: one cache+count, the old cache freed."""
    df = _cached(df)
    rec.artifact.unpersist()
    rec.artifact = df


def _pq_model(centroids, s: dict, rotation=None):
    return QZ.PQModel(
        [QZ._ArrayKMeansModel(np.asarray(c)) for c in centroids],
        s["m"], s["sub_dim"], s["num_centroids"], rotation=rotation,
    )


class _Tier:
    """How one index kind appends, removes, persists and reports itself.
    The defaults serve the stale-encode quantizer tiers, whose code tables
    append the new rows encoded against the TRAINED model and filter out
    removed ids. Artifacts persist under ``<path>/indexes/``; ``write``
    returns the tier's service.json entries and ``read`` the restored
    record, or None when the snapshot holds no such index."""

    #: appended rows go stale against the trained model (needs_retrain
    #: evidence); lsh hyperplanes are data-independent and hnsw inserts
    #: are real graph updates, so neither does
    stale = True

    def add(self, svc, rec: _Index, rows: DataFrame) -> int | None:
        """Append ``rows`` (already in the index's metric space); returns
        the batch row count when the tier measured it."""
        _replace_artifact(rec, rec.artifact.unionByName(self.encode(svc, rec, rows)))

    def remove(self, svc, rec: _Index, ids: list) -> None:
        # a removal cannot invalidate a threshold/codebook — it only makes
        # it slightly stale, the same eventual-freshness contract as adds
        rec.artifact = rec.artifact.filter(~F.col(svc.id_col).isin(ids))


class _LSHTier(_Tier):
    stale = False
    #: an MLlib model: save_database writes it and lists it in its manifest
    write = None

    def add(self, svc, rec, rows):
        pass  # BRP hyperplanes serve appended rows unchanged

    def remove(self, svc, rec, ids):
        pass

    def read(self, svc, path, extras, manifest):
        if "lsh" not in manifest.get("indexes", []):
            return None
        return _Index(BucketedRandomProjectionLSHModel.load(f"{path}/indexes/lsh"), None)

    def stats(self, svc, rec):
        return {"detail": f"{rec.model.getNumHashTables()} hash tables"}


class _BQTier(_Tier):
    def encode(self, svc, rec, rows):
        # the bare expression, no intermediate cache — bq_encode_table would
        # cache+count a table read once here, orphaning it in executor memory
        code = QZ.bq_encode_expr(F.col(svc.vec_col), svc.dim, rec.model).alias("code")
        tags = [F.col(svc.tags_col)] if svc.tags_col else []
        return rows.select(F.col(svc.id_col), code, *tags)

    def write(self, svc, rec, path, hnsw_sq8):
        rec.artifact.write.mode("overwrite").parquet(f"{path}/indexes/bq_codes")
        return {"bq_threshold": rec.model}

    def read(self, svc, path, extras, manifest):
        if "bq_threshold" not in extras:
            return None
        codes = _cached(svc.df.sparkSession.read.parquet(f"{path}/indexes/bq_codes"))
        return _Index(extras["bq_threshold"], codes)

    def stats(self, svc, rec):
        return {"compression": QZ.bq_compression_ratio(svc.dim),
                "detail": f"threshold={rec.model}"}


class _PQTier(_Tier):
    def encode(self, svc, rec, rows):
        return QZ.pq_encode_vectorized(rows, rec.model, svc.vec_col)

    def write(self, svc, rec, path, hnsw_sq8):
        rec.artifact.write.mode("overwrite").parquet(f"{path}/indexes/pq_encoded")
        m = rec.model
        return {"pq": {
            "m": m.m, "sub_dim": m.sub_dim, "num_centroids": m.num_centroids,
            "centroids": m.centroids,
            # OPQ rotation (round 10): None unless built with opq=True
            "rotation": m.rotation,
        }}

    def read(self, svc, path, extras, manifest):
        if "pq" not in extras:
            return None
        p = extras["pq"]
        encoded = svc.df.sparkSession.read.parquet(f"{path}/indexes/pq_encoded")
        return _Index(_pq_model(p["centroids"], p, rotation=p.get("rotation")), encoded)

    def stats(self, svc, rec):
        return {"compression": rec.model.compression_ratio(svc.dim),
                "detail": f"m={rec.model.m}, k'={rec.model.num_centroids}"}


class _IVFTier(_Tier):
    def encode(self, svc, rec, rows):
        return IVF.ivf_assign(rows, rec.model, svc.vec_col)

    def write(self, svc, rec, path, hnsw_sq8):
        IVF.ivf_write(rec.artifact, f"{path}/indexes/ivf")
        return {"ivf": {"nlist": rec.model.nlist, "centroids": rec.model.centroids}}

    def read(self, svc, path, extras, manifest):
        if "ivf" not in extras:
            return None
        s = extras["ivf"]
        model = IVF.IVFModel(IVF._ArrayCentroids(np.asarray(s["centroids"])), s["nlist"])
        assigned = IVF.ivf_read(svc.df.sparkSession, f"{path}/indexes/ivf")
        # the snapshot's coarse model IS the shared per-version artifact
        svc._coarse_models[model.nlist] = model
        return _Index(model, assigned)

    def stats(self, svc, rec):
        return {"detail": f"nlist={rec.model.nlist}"}


class _SQTier(_Tier):
    def encode(self, svc, rec, rows):
        code = QZ.sq_encode_expr(svc.vec_col, rec.model).alias("code")
        tags = [F.col(svc.tags_col)] if svc.tags_col else []
        return rows.select(F.col(svc.id_col), code, *tags)

    def add(self, svc, rec, rows):
        super().add(svc, rec, rows)
        # one batch-sized aggregate: range + decode-error drift, and the
        # batch's row count every stale-encode index books
        d = QZ.sq_append_drift(rows, rec.model, svc.vec_col)
        rec.drift["out_of_range_rows"] += d["out_of_range_rows"]
        rec.drift["err_sum"] += d["mean_sq_err"] * d["rows"]
        rec.drift["err_rows"] += d["rows"]
        return d["rows"]

    def write(self, svc, rec, path, hnsw_sq8):
        rec.artifact.write.mode("overwrite").parquet(f"{path}/indexes/sq_codes")
        return {"sq": {"vmin": rec.model.vmin, "vmax": rec.model.vmax}}

    def read(self, svc, path, extras, manifest):
        if "sq" not in extras:
            return None
        codes = _cached(svc.df.sparkSession.read.parquet(f"{path}/indexes/sq_codes"))
        return _Index(QZ.SQModel(extras["sq"]["vmin"], extras["sq"]["vmax"]), codes)

    def stats(self, svc, rec):
        return {"compression": rec.model.compression_ratio(),
                "detail": "8-bit affine per dim"}


class _IVFPQTier(_Tier):
    def encode(self, svc, rec, rows):
        new = IVFPQ.ivfpq_encode(rows, rec.model, svc.id_col, svc.vec_col)
        if svc.tags_col and svc.tags_col in rec.artifact.columns:
            new = new.join(rows.select(svc.id_col, svc.tags_col), svc.id_col)
        return new

    def write(self, svc, rec, path, hnsw_sq8):
        # cluster-partitioned layout: probe filters partition-prune
        rec.artifact.write.mode("overwrite").partitionBy(
            IVF.CLUSTER_COL
        ).parquet(f"{path}/indexes/ivfpq_encoded")
        ip = rec.model
        section = {
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
            "version": uuid.uuid4().hex,
        }
        self.bind(rec, path, section)  # the written snapshot backs the live service
        return {"ivfpq": section}

    def bind(self, rec, path, ip):
        """Back ``rec`` with the snapshot a manifest section describes:
        unfiltered batch searches then serve worker-resident."""
        if ip.get("version"):
            rec.snapshot = (f"{path}/indexes/ivfpq_encoded", ip["version"])

    def read(self, svc, path, extras, manifest):
        if "ivfpq" not in extras:
            return None
        ip = extras["ivfpq"]
        # reuse the ivf snapshot's coarse model ONLY when the saved
        # centroids are bit-equal (the two indexes may have been built
        # on different table versions before the save)
        saved = np.asarray(ip["coarse_centroids"])
        cand = svc._coarse_models.get(ip["nlist"])
        if cand is not None and np.array_equal(np.asarray(cand.centroids), saved):
            coarse = cand
        else:
            coarse = IVF.IVFModel(IVF._ArrayCentroids(saved), ip["nlist"])
        model = IVFPQ.IVFPQModel(
            coarse, _pq_model(ip["pq_centroids"], ip), rotation=ip.get("rotation")
        )
        if (
            ip.get("rotation") is None
            and extras.get("index_metric", {}).get("ivfpq", "euclidean") == "euclidean"
        ):
            # only a RAW-space coarse model may enter the shared
            # registry: an OPQ build's centroids live in rotated space
            # and a cosine build's in normalized space — a later
            # build_index('ivf') / spatial-hnsw reusing them would
            # assign raw vectors against the wrong geometry (round-9
            # review finding)
            svc._coarse_models.setdefault(ip["nlist"], coarse)
        rec = _Index(model, svc.df.sparkSession.read.parquet(f"{path}/indexes/ivfpq_encoded"))
        self.bind(rec, path, ip)
        return rec

    def stats(self, svc, rec):
        return {"compression": rec.model.compression_ratio(svc.dim),
                "detail": f"nlist={rec.model.ivf.nlist}, m={rec.model.pq.m}",
                # worker-resident durable serving active (save/load)
                "snapshot_backed": rec.snapshot is not None}


class _HNSWTier(_Tier):
    stale = False

    @staticmethod
    def refresh_routing(rec: _Index) -> None:
        """Rebuild the cached per-shard centroid+radius table — one
        aggregate over the (cached) graph, shard-count rows out."""
        if rec.routing is not None:
            rec.routing.unpersist()
        rec.routing = _cached(HN.hnsw_routing_table(rec.artifact))

    def add(self, svc, rec, rows):
        if rec.shards is None:
            # legacy snapshot without a recorded shard count: full rebuild
            svc.build_index("hnsw", metric=rec.metric)
            return
        if rec.spatial and rec.routing is None:
            self.refresh_routing(rec)
        _replace_artifact(rec, HN.hnsw_add(
            rec.artifact, rows, rec.shards, id_col=svc.id_col, vec_col=svc.vec_col,
            routing=rec.routing if rec.spatial else None,
        ))
        self.refresh_routing(rec)

    def remove(self, svc, rec, ids):
        _replace_artifact(rec, HN.hnsw_remove(rec.artifact, [int(i) for i in ids]))
        self.refresh_routing(rec)

    def write(self, svc, rec, path, hnsw_sq8):
        # shard graphs as parquet partitioned by shard: a search that
        # targeted one shard would partition-prune (S9 for the graph);
        # hnsw_sq8 swaps the float payload for packed 8-bit codes
        graph = rec.artifact
        sq8 = HN.hnsw_snapshot_write(graph, f"{path}/indexes/hnsw_graph", dim=svc.dim, sq8=hnsw_sq8)
        section = {
            # SQ8 payload params (None for float artifacts): load()
            # and every snapshot consumer dequantize with these
            "sq8": sq8,
            "num_shards": rec.shards, "spatial": rec.spatial,
            # snapshot-serving manifest (operators.hnsw.
            # hnsw_search_batch_snapshot): the shard list saves the
            # server a listing, the version keys the per-worker graph
            # LRU so a re-save can never serve stale graphs
            "version": uuid.uuid4().hex,
            "part_ids": sorted(r.part_id for r in graph.select("part_id").distinct().collect()),
        }
        self.bind(rec, path, section)  # the written snapshot backs the live service
        return {"hnsw": section}

    def bind(self, rec, path, hn):
        """Back ``rec`` with the snapshot a manifest section describes:
        searches then serve through the worker-resident tier — queries
        ship, graph bytes don't (see _hnsw_request)."""
        rec.sq8 = dict(hn["sq8"]) if hn.get("sq8") else None
        if hn.get("version") and hn.get("part_ids"):
            rec.snapshot = (
                f"{path}/indexes/hnsw_graph", hn["version"], [int(p) for p in hn["part_ids"]],
            )

    def read(self, svc, path, extras, manifest):
        hn = extras.get("hnsw")
        if not hn:
            return None
        hn = hn if isinstance(hn, dict) else {}  # legacy manifests: a bare flag
        graph = svc.df.sparkSession.read.parquet(f"{path}/indexes/hnsw_graph")
        sq8 = hn.get("sq8")
        if sq8:
            # SQ8 artifact: the in-memory view (DataFrame serving
            # fallback, routing refresh, future saves/mutations)
            # decodes the packed codes back to floats — one codegen
            # expression on the graph scan, no Python
            graph = graph.withColumn(
                "embedding",
                QZ.sq_decode_expr("embedding_sq8", QZ.SQModel(sq8["vmin"], sq8["vmax"]))
                .cast("array<float>"),
            ).drop("embedding_sq8")
        rec = _Index(None, graph, shards=hn.get("num_shards"), spatial=bool(hn.get("spatial")))
        self.bind(rec, path, hn)
        return rec

    def stats(self, svc, rec):
        return {"detail": f"shards={rec.shards}, spatial={rec.spatial}",
                "snapshot_backed": rec.snapshot is not None}


#: Every index SearchService can build, in build_all_indexes / index_stats
#: order (ivf loads before ivfpq, which may share its coarse model).
_TIERS = {
    "lsh": _LSHTier(), "bq": _BQTier(), "pq": _PQTier(), "ivf": _IVFTier(),
    "sq": _SQTier(), "ivfpq": _IVFPQTier(), "hnsw": _HNSWTier(),
}


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
        #: one record per built index, keyed by its _TIERS name
        self._indexes: dict[str, _Index] = {}
        #: ONE trained coarse-cell model per (table version, nlist), shared
        #: by the ivf / ivfpq / spatial-hnsw builds (round-5 VERDICT 6):
        #: the trainers are deterministic, so sharing changes nothing but
        #: the fit cost — and probe semantics stay consistent across the
        #: three indexes. Cleared on add/remove (a later build_index must
        #: retrain on the CURRENT table).
        self._coarse_models: dict[int, object] = {}

    def _coarse(self, nlist: int):
        m = self._coarse_models.get(nlist)
        if m is None:
            m = IVF.ivf_train_sampled(self.df, nlist=nlist, vec_col=self.vec_col)
            self._coarse_models[nlist] = m
        return m

    def _built(self) -> list:
        """(name, tier, record) of every built index, in _TIERS order."""
        return [(n, t, self._indexes[n]) for n, t in _TIERS.items() if n in self._indexes]

    # --- index lifecycle (Q12 BuildIndex / BuildAllIndexes) -----------------

    #: index methods that accept build_index(metric='cosine') — their
    #: artifacts bake the geometry in (codes / assignments / graph edges),
    #: so the cosine bridge must be applied at BUILD time
    _COSINE_METHODS = frozenset(_TIERS) - {"lsh"}
    #: methods cosine-SERVABLE at query time: everything above plus lsh,
    #: whose BRP hyperplanes are data-independent — the raw-fit model
    #: projects normalized vectors just as well, so no cosine build exists
    _COSINE_SERVE = frozenset(_TIERS)

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
        method = _ALIASES.get(method.lower(), method.lower())
        metric = metric.lower()
        if metric not in ("euclidean", "cosine"):
            raise ValueError(f"unsupported index metric {metric!r}")
        if opq and method not in ("ivfpq", "pq"):
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
        tags = [self.tags_col] if self.tags_col else None
        if method == "lsh":
            rec = _Index(LSH.fit_lsh(self.df, self.vec_col, dim=self.dim), None)
        elif method == "bq":
            # build = train threshold + materialize the (id, code) table once
            # (BinaryQuantization.cs encodes in the index constructor); every
            # query then prefilters on dim/32 of the float bytes
            threshold = QZ.bq_global_threshold(build_df, self.vec_col)
            rec = _Index(threshold, QZ.bq_encode_table(
                build_df, self.dim, threshold, self.id_col, self.vec_col, extra_cols=tags,
            ))
        elif method == "pq":
            # sampled one-pass trainer: recall >= the MLlib fit at equal cost
            # at the 150k tier, and its cost is constant in data size where
            # MLlib's is m x iters full scans (docs/RECALL.md verdict)
            # opq=True (round 10): learn an orthogonal rotation first (the
            # ivfpq trainer is method-agnostic); codes live rotated, the
            # rerank tier still scores original floats
            model = QZ.pq_train_sampled(build_df, self.dim, vec_col=self.vec_col, opq=opq)
            # vectorized encode: the serving tier (Arrow-batched matmul argmin,
            # ~150x the interpreted-HOF pq_encode, identical codes test-gated)
            rec = _Index(model, QZ.pq_encode_vectorized(build_df, model, self.vec_col).cache())
        elif method == "ivf":
            # sampled one-pass coarse quantizer: statistically equivalent
            # recall to the MLlib fit at the 150k tier once measured with
            # enough queries (docs/RECALL.md 20-query table), at one scan
            # instead of iterations x scans; the model is the SHARED
            # per-table-version coarse artifact (_coarse) — except cosine
            # builds, whose cells live in the normalized space
            model = (
                self._coarse(16) if metric == "euclidean"
                else IVF.ivf_train_sampled(build_df, vec_col=self.vec_col)
            )
            rec = _Index(model, IVF.ivf_assign(build_df, model, self.vec_col).cache())
        elif method == "sq":
            # 8-bit scalar quantizer: one min/max pass trains, one encode
            # pass materializes the packed-byte table (1/4 the float bytes)
            model = QZ.sq_train(build_df, self.dim, self.vec_col)
            rec = _Index(model, QZ.sq_encode_table(
                build_df, model, self.id_col, self.vec_col, extra_cols=tags,
            ))
        elif method == "ivfpq":
            # composed coarse-quantizer + residual-PQ index (operators.ivfpq
            # — the FAISS IVFPQ recipe): sampled deterministic trainers, one
            # Arrow encode pass materializes (id, cell, code). The cell
            # layer is the SHARED per-table-version coarse model.
            model = IVFPQ.ivfpq_train(
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
            enc = IVFPQ.ivfpq_encode(build_df, model, self.id_col, self.vec_col)
            if self.tags_col:
                # one build-time join buys join-free tag-filtered queries
                enc = enc.join(self.df.select(self.id_col, self.tags_col), self.id_col)
            rec = _Index(model, _cached(enc))
        elif method == "hnsw":
            # true partitioned graph (operators.hnsw): requires a numeric
            # id (graph adjacency serializes neighbor ids as bigint). Built
            # eagerly and cached — the shard graphs are the index artifact.
            # Shard count auto-sized from the row count (hnsw_shard_count)
            # and pinned EXPLICITLY (hash repartition on the id) so
            # add_vectors can route new rows to their shard with
            # pmod(hash(id-as-long), n). The routing table (per-shard
            # centroid+radius) is built alongside for probe_shards search.
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
            )
            rec = _Index(None, _cached(graph), shards=n, spatial=spatial)
            _HNSWTier.refresh_routing(rec)
        elif method in EXACT_METHODS or method == "range":
            return  # exact paths need no artifact
        else:
            raise ValueError(f"unknown index method {method!r}")
        # a (re)build trains on the CURRENT table: a fresh record restarts
        # the drift counters, and no snapshot backs it yet
        rec.metric = metric
        self._indexes[method] = rec

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
        for rec in self._indexes.values():  # in-memory artifacts diverge from disk
            rec.snapshot = rec.sq8 = None
        counted = None
        for _, tier, rec in self._built():
            rows = new_rows
            if rec.metric == "cosine":
                # appends encode in the index's OWN metric space: a cosine
                # build holds normalized codes/vectors, so appends normalize
                from neighborly_spark.functions.distance import normalize

                rows = new_rows.withColumn(self.vec_col, normalize(F.col(self.vec_col)))
            n = tier.add(self, rec, rows)
            counted = n if n is not None else counted
        # drift bookkeeping for the stale-encode indexes: sq's drift
        # aggregate counted the batch, else one count
        stale = [rec for _, tier, rec in self._built() if tier.stale]
        if stale:
            n_new = counted if counted is not None else new_rows.count()
            for rec in stale:
                rec.drift["appended_rows"] += n_new

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

    def _drift(self, name: str, rec: _Index, rows: int) -> dict:
        """needs_retrain evidence for one stale-encode index (Q13's
        eventual-freshness contract made observable — round-5 VERDICT 7)."""
        appended = rec.drift["appended_rows"]
        base = max(rows - appended, 1)
        frac = appended / base
        d = {"appended_rows": appended, "appended_frac": round(frac, 4)}
        needs = frac > self.APPEND_FRAC_RETRAIN
        if name == "sq":
            sd = rec.drift
            eps2 = sum((s / 2.0) ** 2 for s in rec.model.scale)
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
        for name, tier, rec in self._built():
            rows = rec.artifact.count() if rec.artifact is not None else None
            stats = {"index": name, "rows": rows, **tier.stats(self, rec)}
            stats.update(self._drift(name, rec, rows) if tier.stale else {"needs_retrain": False})
            out.append(stats)
        return out

    def _serving(self, key: str, metric: str, pred=None) -> tuple:
        """(record, artifact) of the index serving ``key``: lazy-built for
        the REQUESTED metric, or refused when the existing artifact was
        built for the other one — the trained codes bake the geometry in (a
        cosine query cannot be served off raw-space codes), so serving
        across metrics would silently return garbage. A tag predicate
        filters the artifact: artifacts built while the table carries tags
        embed the column, so it is a plain pushdown filter on the
        (cached/parquet) code scan — no join."""
        want = "cosine" if metric == "cosine" else "euclidean"
        if key not in self._indexes:
            self.build_index(key, metric=want)
        rec = self._indexes[key]
        if rec.metric != want:
            raise ValueError(
                f"the {key} index was built for metric={rec.metric!r}; rebuild "
                f"with build_index({key!r}, metric={want!r}) to serve "
                f"{want} queries"
            )
        if pred is None:
            return rec, rec.artifact
        if self.tags_col not in rec.artifact.columns:
            raise ValueError(
                f"the {key} index was built without the tags column; "
                "rebuild it (build_index) to enable tag-filtered search"
            )
        return rec, rec.artifact.filter(pred)


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


    def _hnsw_request(self, metric, pred, probe_shards, tag_any, tag_all):
        """The hnsw request checks search() and the batch tier share (the
        graph is built for ``metric`` — see _serving); returns (record,
        graph, allowed_col, snapshot). A tag predicate
        becomes the ``_allowed`` mask over the artifact-embedded tags
        (round-5 VERDICT 2 filtered descent — an expression, no join).
        Probe routing needs a spatial layout and a routing table.
        ``snapshot`` is None for an in-memory graph, else
        hnsw_search_batch_snapshot bound to the saved shards, routing and
        tag filter — call it as ``snapshot(queries, k, ef=...)``: only the
        queries enter its plan, workers read + LRU-cache their shards'
        parquet, and the tags ride the snapshot shards (whose columns
        mirror the graph checked here)."""
        rec, graph = self._serving("hnsw", metric)
        allowed_col = None
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
            if not rec.spatial:
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
            if rec.routing is None:
                _HNSWTier.refresh_routing(rec)  # e.g. snapshot-loaded graph
        snapshot = None
        if rec.snapshot is not None:
            pth, ver, pids = rec.snapshot
            snapshot = functools.partial(
                HN.hnsw_search_batch_snapshot, self.df.sparkSession, pth, pids,
                version=ver, probe_shards=probe_shards,
                routing=rec.routing if probe_shards is not None else None,
                tag_any=tag_any, tag_all=tag_all,
                tags_col=self.tags_col or "tags", sq8=rec.sq8,
            )
        return rec, graph, allowed_col, snapshot

    def remove_vectors(self, ids: list) -> None:
        """Incremental RemoveById: rows filter out of the table; HNSW
        rebuilds ONLY the shards that contained a removed id
        (operators.hnsw.hnsw_remove); quantizer code/assignment tables
        filter out the removed ids while the trained models stay valid."""
        self.df = self.df.filter(~F.col(self.id_col).isin(ids))
        self._coarse_models = {}  # new table version (see add_vectors)
        for rec in self._indexes.values():  # in-memory artifacts diverge from disk
            rec.snapshot = rec.sq8 = None
        for _, tier, rec in self._built():
            tier.remove(self, rec, ids)

    def build_all_indexes(self) -> None:
        for m in _TIERS:
            self.build_index(m)

    # --- snapshot persistence (the reference's save/load database story,
    # VectorDatabase.cs:642-730: vectors + every built index artifact) ----

    def save(self, path: str, hnsw_sq8: bool = False) -> None:
        """Persist vectors (parquet) + every BUILT index under
        ``path/indexes/`` + a manifest (service.json): LSH as the MLlib
        model; BQ as its threshold + code table; PQ as codebooks and OPQ
        rotation + encoded table; IVF as centroids + the cluster-partitioned
        assignments; SQ as per-dim vmin/vmax + code table; IVF-PQ as coarse
        centroids, codebooks and rotation + the cell-partitioned code
        table; HNSW as the shard-partitioned graphs + shard count, layout
        and shard list. The manifest also keeps each index's build metric
        and drift bookkeeping (appended rows; sq's out-of-range rows and
        decode-error sums), so a reloaded service reports the same
        index_stats and keeps sq's lossless range gating. load() restores
        a service that serves every built method without re-training; the
        written ivfpq/hnsw snapshots back this service too until a mutation.

        ``hnsw_sq8=True`` (round 10) stores the hnsw graph's vector
        payload 8-bit scalar-quantized (~4x fewer artifact bytes -> ~4x
        cheaper cold shard loads, 4x more shards per storage byte);
        resident serving memory and the beam kernel are unchanged
        (dequantize-on-load), results are recall-gated rather than
        bit-equal to a float-artifact save."""
        from neighborly_spark.fsio import write_json
        from neighborly_spark.sources.etl import save_database

        built = self._built()
        save_database(
            self.df, path, self.dim,
            models={n: r.model for n, t, r in built if t.write is None},
        )
        extras: dict = {
            "id_col": self.id_col, "vec_col": self.vec_col, "text_col": self.text_col,
            # which metric each index was built for (cosine builds hold
            # normalized codes — the loader must know)
            "index_metric": {n: r.metric for n, _, r in built},
            "drift": {n: r.drift for n, _, r in built},
        }
        for _, tier, rec in built:
            if tier.write is not None:
                extras.update(tier.write(self, rec, path, hnsw_sq8))
        # Hadoop FS API, not driver-local open(): the parquet artifacts
        # above land on any scheme (s3a://, hdfs://) — the manifest must
        # not be the one piece that crashes after they all committed
        # (round-10 VERDICT; same fix class as the DedupStore manifest)
        write_json(self.df.sparkSession, f"{path}/service.json", extras)

    @classmethod
    def load(cls, spark, path: str) -> "SearchService":
        """Restore a saved SearchService: vectors, manifest, and one record
        per persisted index — its model and artifact (no re-training, no
        re-encoding), build metric, drift bookkeeping, and the saved ivfpq /
        hnsw snapshot that then serves batch searches worker-resident.
        Manifests written before the drift bookkeeping load with zeroed
        counters."""
        from neighborly_spark.fsio import read_json
        from neighborly_spark.sources.etl import load_database

        df, manifest = load_database(spark, path)
        extras = read_json(spark, f"{path}/service.json")
        if extras is None:
            raise ValueError(f"no service manifest at {path!r}/service.json")
        svc = cls(
            df, dim=manifest["dim"], id_col=extras["id_col"],
            vec_col=extras["vec_col"], text_col=extras["text_col"],
        )
        metrics, drift = extras.get("index_metric", {}), extras.get("drift", {})
        for name, tier in _TIERS.items():
            rec = tier.read(svc, path, extras, manifest)
            if rec is not None:
                rec.metric = metrics.get(name, "euclidean")
                rec.drift.update(drift.get(name, {}))
                svc._indexes[name] = rec
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
        method = _ALIASES.get(method.lower(), method.lower())
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
            model = getattr(self._indexes.get("lsh"), "model", None)
            out = LSH.lsh_knn(base_df, query_vec, k, self.vec_col, model=model)
        elif method == "hnsw" and "hnsw" not in self._indexes and metric != "cosine":
            # not built: capability-mapped batch ANN (SURVEY §7.2 ph. 5);
            # cosine must be baked into the graph edges, so a cosine query
            # builds the graph instead
            out = LSH.hnsw_equivalent_knn(base_df, query_vec, k, self.vec_col, self.id_col)
        elif method in ("hnsw", "ivfpq"):
            # one query = a one-row batch through the tier's batch code
            # (snapshot-backed indexes serve worker-resident); ivfpq's
            # default is the ADC shortlist + exact rerank, the tier that
            # clears the 0.8 bar on uniform data
            hits = self._batch_tier(
                method, [(0, query_vec)], k, base_df=base_df, metric=metric,
                ivfpq_nprobe=ivfpq_nprobe, hnsw_probe_shards=hnsw_probe_shards,
                hnsw_ef=hnsw_ef, tag_any=tag_any, tag_all=tag_all,
            ).drop("query_id")
            # rejoin the STORED rows' payload columns so the schema matches
            # the exact path (k-row broadcast join; AQE picks broadcast).
            # The graph stores long ids: join on the table's own id type
            hits = hits.withColumnRenamed("id", self.id_col).withColumn(
                self.id_col, F.col(self.id_col).cast(self.df.schema[self.id_col].dataType)
            )
            out = (
                self.df.join(F.broadcast(hits), self.id_col)
                .select(*self.df.columns, "dist")
                # the payload join does not preserve the merge order;
                # re-impose (dist, id) on the k joined rows
                .orderBy(F.col("dist").asc(), F.col(self.id_col).asc())
            )
        elif method == "bq":
            rec, codes = self._serving("bq", metric, pred)
            out = QZ.bq_search_precoded(
                base_df, codes, query_vec, k, self.dim, rec.model, self.id_col, self.vec_col,
            )
        elif method == "pq":
            rec, encoded = self._serving("pq", metric, pred)
            if pq_rerank:
                # serve the rerank tier by default: same trained artifacts,
                # but recall 0.89-1.00 vs pure ADC's 0.36-0.66 measured in
                # docs/RECALL.md — the shortlist join touches only 5k float
                # rows. Pure ADC (the reference's tier,
                # ProductQuantization.cs:330-380) stays opt-in.
                out = QZ.pq_search_rerank(
                    base_df, encoded, rec.model, query_vec, k,
                    shortlist=max(5 * k, 50), id_col=self.id_col, vec_col=self.vec_col,
                )
            else:
                out = QZ.pq_search(encoded, rec.model, query_vec, k, self.id_col)
        elif method == "ivf":
            rec, assigned = self._serving("ivf", metric, pred)
            out = IVF.ivf_search(
                assigned, rec.model, query_vec, k, nprobe=ivf_nprobe,
                id_col=self.id_col, vec_col=self.vec_col,
            )
        elif method == "sq":
            rec, codes = self._serving("sq", metric, pred)
            # pure dequantized tier by default (recall 1.00 measured with
            # NO rerank — the eps decode bound); sq_rerank=True opts in
            out = QZ.sq_search_precoded(
                base_df, codes, rec.model, query_vec, k,
                id_col=self.id_col, vec_col=self.vec_col, rerank=sq_rerank,
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
            hnsw = self._indexes.get("hnsw")
            knobs = dict(
                k=k, ivfpq_nprobe=ivfpq_nprobe, hnsw_ef=hnsw_ef,
                hnsw_probe_shards=DEFAULT_PROBE_SHARDS if hnsw and hnsw.spatial else None,
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
                    for tier in ("hnsw", "ivfpq", "sq")
                    if tier in self._indexes and self._indexes[tier].metric == "euclidean"
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
        method = _ALIASES.get(method.lower(), method.lower())
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

            if "lsh" not in self._indexes:
                self.build_index("lsh")
            out = approx_knn_join(
                base_df, self._query_frame(queries), k, radius=2.5,
                id_col=self.id_col, vec_col=self.vec_col,
                dim=self.dim, model=self._indexes["lsh"].model,
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
        (round-6 VERDICT 1). ``method`` is a canonical tier name; each
        branch reads the tier's record from ``_indexes`` (lazy-built for
        ``metric`` by _serving): its model, its artifact, and
        for ivfpq/hnsw the snapshot that, while set, serves worker-resident.
        Returns (query_id, id, dist) with raw euclidean distances."""
        pred = self._tag_predicate(tag_any, tag_all)
        base_df = self.df if base_df is None else base_df
        if method == "bq":
            rec, codes = self._serving("bq", metric, pred)
            return QZ.bq_knn_join(
                base_df, codes, self._query_frame(queries), k, self.dim, rec.model,
                id_col=self.id_col, vec_col=self.vec_col,
            )
        if method == "sq":
            rec, codes = self._serving("sq", metric, pred)
            return QZ.sq_knn_join(
                codes, rec.model, self._query_frame(queries), k,
                df=base_df if rerank else None, id_col=self.id_col,
                vec_col=self.vec_col, rerank=rerank, shortlist=shortlist,
            )
        if method == "ivfpq":
            rec, encoded = self._serving("ivfpq", metric, pred)
            if rec.snapshot is not None:
                # snapshot-backed code table: serve worker-resident — only
                # the probe assignments enter the plan, each worker reads +
                # LRU-caches its cell's parquet directly. Tag-filtered
                # queries stay worker-resident too (round 9, r8 VERDICT 2):
                # the tags ride the saved code table (build_index embeds
                # them; _serving refused a tags-less one), the mask
                # evaluates inside the task before ADC scoring — same
                # recipe as the hnsw snapshot tier.
                pth, ver = rec.snapshot
                return IVFPQ.ivfpq_knn_join_snapshot(
                    self.df.sparkSession, pth, rec.model,
                    queries, k, version=ver,
                    nprobe=ivfpq_nprobe, df=base_df if rerank else None,
                    rerank=rerank, shortlist=shortlist,
                    id_col=self.id_col, vec_col=self.vec_col,
                    tag_any=tag_any, tag_all=tag_all,
                    tags_col=self.tags_col or "tags",
                )
            return IVFPQ.ivfpq_knn_join(
                encoded, rec.model, queries, k,
                nprobe=ivfpq_nprobe, df=base_df if rerank else None,
                rerank=rerank, shortlist=shortlist,
                id_col=self.id_col, vec_col=self.vec_col,
            )
        if method == "hnsw":
            if "hnsw" not in self._indexes:
                self.build_index("hnsw", metric=metric)
            rec, graph, allowed_col, snapshot = self._hnsw_request(
                metric, pred, hnsw_probe_shards, tag_any, tag_all
            )
            if snapshot is not None:
                # large fan-in parallelism knob (round 8): splits each
                # shard's queries across hnsw_query_salt tasks
                return snapshot(queries, k, ef=hnsw_ef, query_salt=hnsw_query_salt)
            return HN.hnsw_search_batch(
                graph, queries, k, ef=hnsw_ef,
                probe_shards=hnsw_probe_shards,
                routing=rec.routing if rec.spatial else None,
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
            rec, codes = self._serving("sq", metric)
            query_vec = self._check_query(query_vec)
            if rec.drift["out_of_range_rows"] == 0:
                if metric == "cosine":
                    return QZ.sq_range_search_cosine(
                        self.df, codes, rec.model, query_vec,
                        radius, id_col=self.id_col, vec_col=self.vec_col,
                    )
                return QZ.sq_range_search(
                    self.df, codes, rec.model, query_vec, radius,
                    id_col=self.id_col, vec_col=self.vec_col,
                )
            # lossless bound voided by an out-of-range append: exact scan
        return range_search(self.df, query_vec, radius, metric, self.id_col, self.vec_col)
