"""Persisted, batch-incremental IVF,SQ8 index — the ANN mirror of the
LSH band index (operators/dedup_index.py).

The batch IVF family (similarity.ivf_topk, quantization.ivf_sq8_topk)
recomputes centroids and codes per query; at 100 TB that makes every
probe O(corpus), the same wrong asymptote the LSH index fixed for
dedup. Production vector stores (FAISS on-disk indexes, Milvus
segments) persist the index instead:

- **centroids and scales are frozen at bootstrap** — the coarse
  quantizer (per-cell FLOORED-MEAN vectors in exact integer micro-units
  — deterministic across partitionings, see ``bootstrap``) and the
  SQ8 per-dimension scales (quantization.sq8_scales) are learned ONCE
  over the bootstrap corpus and written next to the rows. Freezing is
  what makes increments cheap AND what every real IVF deployment does:
  reassigning old rows on every centroid drift would be O(corpus) per
  batch. Refit-and-rebuild is the escape hatch when drift accumulates
  (same lifecycle as compaction).
- **index rows** are ``(vec_id, codes array<long>)`` partitioned by
  ``batch`` / ``cell``: the cell directory level is what a probe prunes
  on (nprobe/cells of the data read, as partition filters at the scan),
  the batch level is what an ingest overwrites (dynamic partition
  overwrite — replaying a batch rewrites exactly its own partitions,
  the same exactly-once-by-rewrite contract as the LSH index).
- **batch add** computes assignment + codes for the DELTA only: one
  broadcast of the centroid frame, one scan of the new rows. Old rows
  are never re-read — the index is their memory.
- **probe** routes queries full-precision against the broadcast
  centroids (nprobe cells, ties cell-ascending), collects the routed
  cell ids (≤ queries·nprobe ints — a bounded index artifact, annotated
  like the bloom words / k-means centroids), scans ONLY those cell
  partitions, and scores with the exact-integer asymmetric dot of
  quantization.sq8_topk. Probe results are bit-identical to a
  from-scratch ``ivf_sq8_topk`` fed the same frozen artifacts
  (equivalence-pinned in tests/test_ivf_index.py).

Out-of-range honesty: codes use the same unclamped formula as
``sq8_codes`` — a later batch whose coordinates exceed the bootstrap's
per-dimension range produces |code| > 127 rather than silently
saturating (scores stay exact integers either way); monitor with
:meth:`scale_drift` and refit when it matters.

Reference parity: the reference has no vector surface — this is the
beyond-reference LLM-data similarity family (SURVEY.md §2 flank).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.operators.clustering import (
    micro_units_expr,
    quantized_points,
)
from dataplatform_cdc_pipeline_spark.operators.quantization import scales_from_rows
from dataplatform_cdc_pipeline_spark.operators.similarity import (
    as_double_vec,
    dot_expr,
    norm_expr,
)


class IncrementalIvfIndex:
    """IVF,SQ8 index persisted at ``path`` (``centroids/``, ``scales/``,
    ``rows/`` partitioned by batch and cell)."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self.centroids_path = os.path.join(path, "centroids")
        self.scales_path = os.path.join(path, "scales")
        self.rows_path = os.path.join(path, "rows")
        #: memo of the FROZEN centroids/scales, so add_batch/assign/search
        #: do not pay a collect job per call to re-read a k-row artifact
        #: (see :meth:`_frozen`)
        self._memo: dict[str, tuple[tuple[int, int], list]] = {}

    # -- frozen artifacts ----------------------------------------------------

    def bootstrap(
        self,
        batch_id: str,
        embeddings: DataFrame,
        cell_col: str = "label",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Learn the coarse quantizer (per-``cell_col`` mean vectors) and
        the SQ8 scales over the bootstrap corpus, persist both, then add
        the corpus itself as the first batch. Bootstrapping an already-
        bootstrapped index is a refit misuse — fail loudly."""
        if os.path.isdir(self.centroids_path):
            raise ValueError(
                f"index at {self.path} is already bootstrapped; build a new "
                "index path to refit (centroids/scales are frozen artifacts)"
            )
        # Exact-integer centroids: per-cell FLOORED MEAN in micro-units
        # (round(x·1e6) → bigint sum → floor(sum/n)). A float mean's
        # value depends on partial-sum order across partitions — a
        # PERSISTED artifact must not change with the parallelism that
        # built it, and row assignment compares cosines whose last bits
        # would otherwise flip near ties. Cosine is scale-invariant per
        # centroid, so routing in micro-units ranks identically to the
        # true mean (modulo the floor quantization, which is part of
        # the index definition — same convention as the k-means
        # operator, clustering.py). ivf_centroids (float mean) remains
        # the per-query batch path's convention.
        # cell and coordinates live on the SAME row — no pts⋈cells
        # self-join on vec_id (r12 optimization: the join shuffled both
        # sides of a 1:1 self-pairing; this is one pass, zero extra
        # shuffles before the (cell,pos) partial agg). Centroids AND
        # scales derive from ONE corpus pass (r12, guide §1.2): the
        # (cell, pos) partial agg additionally carries max(|m|), so the
        # global per-dimension scale is a second-stage max over the k·d
        # partials (exact: max over per-cell maxes ≡ the corpus max
        # sq8_scales computes) instead of its own posexplode pass.
        grouped = (
            embeddings.select(
                F.col(cell_col).alias("cell"),
                F.posexplode(micro_units_expr(vec_col)).alias("pos", "m"),
            )
            .groupBy("cell", "pos")
            .agg(
                F.floor(F.sum("m") / F.count(F.lit(1))).cast("long").alias("c"),
                F.max(F.abs(F.col("m"))).alias("mx"),
            )
            .localCheckpoint(eager=True)  # k·d rows feed both artifacts
        )
        cent = (
            grouped.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select(
                F.col("cell").cast("long").alias("cell"),
                F.transform("pc", lambda s: s["c"].cast("double")).alias(
                    "centroid"
                ),
            )
            .withColumn("c_norm", norm_expr(F.col("centroid")))
        )
        cent.write.parquet(self.centroids_path)
        scale_rows = grouped.groupBy("pos").agg(F.max("mx").alias("mx")).collect()
        if not scale_rows:
            raise ValueError("bootstrap: empty corpus")
        scales = scales_from_rows(scale_rows)
        self.spark.createDataFrame(
            [(i, int(s)) for i, s in enumerate(scales)], "pos int, mx long"
        ).coalesce(1).write.parquet(self.scales_path)
        self.add_batch(batch_id, embeddings, id_col, vec_col)

    def centroids(self) -> DataFrame:
        """(cell, centroid array<double>, c_norm) — the frozen coarse
        quantizer. Missing path = not bootstrapped (fail loud: every
        other operation is meaningless without it)."""
        if not os.path.isdir(self.centroids_path):
            raise ValueError(f"index at {self.path} is not bootstrapped")
        return self.spark.read.parquet(self.centroids_path)

    def scales(self) -> list[int]:
        return self._frozen(
            "scales",
            lambda: scales_from_rows(
                self.spark.read.parquet(self.scales_path).collect()
            ),
        )

    def _frozen(self, name: str, load) -> list:
        """Memoized frozen artifact ``name``, re-read with ``load`` when
        the centroids directory's ``(st_ino, st_mtime_ns)`` differs from
        the key it was read under. Bootstrap writes the artifacts once and
        refit() renames a freshly built index into place, so a refit
        through ANY handle on the path changes the key."""
        try:
            st = os.stat(self.centroids_path)
        except FileNotFoundError:
            raise ValueError(f"index at {self.path} is not bootstrapped") from None
        key = (st.st_ino, st.st_mtime_ns)
        hit = self._memo.get(name)
        if hit is None or hit[0] != key:
            hit = self._memo[name] = (key, load())
        return hit[1]

    # -- assignment (shared by add and the from-scratch comparator) --------

    def _assign_expr(self, vec: F.Column, v_norm: F.Column) -> F.Column:
        """Nearest-frozen-centroid cell id as ONE map-side row expression
        (r12 optimization, guide §2.4): ``array_max`` over literal
        (cosine, −cell) structs. The centroid frame is a bounded frozen
        artifact (k rows — the same class as the k-means seeds and the
        bloom words), so inlining it removes the previous
        crossJoin(broadcast) → n·k rows → Exchange → Window sort plan:
        assignment is now a pure projection, zero shuffles.

        Exact equivalence with the old rank-1 of (c_cos desc, cell asc):
        cosines are computed by the same sequential-fold ``dot_expr`` over
        the same stored doubles, struct ordering takes the max cosine
        (Spark's total order ranks NaN above all and nulls below all,
        matching the window's NaN-first/nulls-last desc), and the negated
        cell id breaks exact ties toward the LOWEST cell."""
        rows = self._frozen(
            "centroids",
            lambda: sorted(self.centroids().collect(), key=lambda r: r["cell"]),
        )
        entries = [
            F.struct(
                (
                    dot_expr(
                        vec, F.array(*[F.lit(float(x)) for x in r["centroid"]])
                    )
                    / (v_norm * F.lit(float(r["c_norm"])))
                ).alias("cos"),
                F.lit(-int(r["cell"])).cast("long").alias("ncell"),
            )
            for r in rows
        ]
        return (-F.array_max(F.array(*entries))["ncell"]).alias("cell")

    def assign_cells(
        self, embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> DataFrame:
        """(vec_id, cell): every row routed to its nearest frozen
        centroid — the same (cosine desc, cell asc) rank-1 the probe
        uses, so assignment and routing can never disagree. A single
        map-side projection (see :meth:`_assign_expr`)."""
        vecs = embeddings.select(
            F.col(id_col).alias("vec_id"), as_double_vec(vec_col).alias("vec")
        ).withColumn("v_norm", norm_expr(F.col("vec")))
        return vecs.select(
            "vec_id", self._assign_expr(F.col("vec"), F.col("v_norm"))
        )

    # -- ingest ---------------------------------------------------------------

    def add_batch(
        self,
        batch_id: str,
        embeddings: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Assign + encode the DELTA with the frozen artifacts and
        publish under ``batch=<batch_id>``; dynamic partition overwrite
        makes replay idempotent (rewrites exactly its own partitions).

        One scan, one projection (r12 optimization): assignment
        (:meth:`_assign_expr`) and SQ8 codes are both pure row
        expressions over the frozen artifacts, so they compute in the
        SAME select — the previous assign⋈codes self-join on vec_id
        (two scans of the delta + a shuffle join) is gone; the only
        remaining exchange is the repartition("cell") that sizes the
        partitioned write."""
        from dataplatform_cdc_pipeline_spark.operators.quantization import (
            sq8_code_expr,
        )

        vecs = embeddings.select(
            F.col(id_col).alias("vec_id"), as_double_vec(vec_col).alias("vec")
        ).withColumn("v_norm", norm_expr(F.col("vec")))
        rows = vecs.select(
            "vec_id",
            self._assign_expr(F.col("vec"), F.col("v_norm")),
            sq8_code_expr(F.col("vec"), self.scales()).alias("codes"),
        ).withColumn("batch", F.lit(batch_id))
        (
            rows.repartition("cell")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch", "cell")
            .parquet(self.rows_path)
        )

    def index_rows(self) -> DataFrame:
        """(vec_id, codes, batch, cell) — the stored index. A missing
        path — or one whose every partition was erased (only commit
        markers left after an erase-all) — is the legitimate empty
        state; other read errors propagate. The guard is the shared
        operators/index_io.read_index_table (an r12 review found the
        erase-all state crashing here while BM25's twin guarded it)."""
        from dataplatform_cdc_pipeline_spark.operators.index_io import (
            read_index_table,
        )

        return read_index_table(
            self.spark,
            self.rows_path,
            "vec_id long, codes array<bigint>, batch string, cell bigint",
        ).select(
            "vec_id", "codes", "batch", F.col("cell").cast("long").alias("cell")
        )

    def erase(self, vec_ids) -> dict:
        """Right-to-be-forgotten ACROSS the derived ANN index (the
        vector twin of bm25_index.erase: deleting an embedding row from
        the corpus is not enough — its stored codes keep it retrievable
        as a neighbor). Removes the ids' code rows; post-erase probes
        are bit-identical to from-scratch IVF,SQ8 over the survivors
        fed the same frozen artifacts (test-pinned).

        The frozen centroids/SQ8 scales deliberately do NOT refit: like
        every on-disk IVF deployment, an erased bootstrap vector's
        statistical influence on the coarse quantizer persists until
        the next :meth:`refit` — what GDPR requires gone is the
        RETRIEVABLE datum (the code row), and full statistical
        unlearning is exactly the refit lifecycle that already exists.

        Scale shape: affected (batch, cell) partitions resolve from a
        column-pruned scan (vec_id/batch/cell only — parquet never
        reads the wide codes column) joined to the broadcast id set;
        only those partitions rewrite, emptied ones removed
        (``replace_partitions``). Idempotent: a replay finds no surviving
        rows for the ids and rewrites the same partitions identically."""
        from dataplatform_cdc_pipeline_spark.operators.index_io import (
            coerce_id_frame,
            replace_partitions,
        )

        ids = coerce_id_frame(self.spark, vec_ids, "vec_id")

        rows = self.index_rows()
        affected = [
            (r["batch"], r["cell"])
            for r in rows.select("vec_id", "batch", "cell")
            .join(ids, "vec_id")
            .select("batch", "cell")
            .distinct()
            .collect()
        ]  # bounded control list: |affected partitions|
        result = {"partitions": sorted(affected), "vecs_erased": 0}
        if not affected:
            return result
        # coarse partition-value isin filters push down to the scan and
        # prune directories; the exact (batch, cell) pair restriction is
        # a broadcast semi-join — NOT a per-partition OR-chain, whose
        # Catalyst expression tree would grow linearly with the number
        # of affected partitions (r12 review)
        coarse = F.col("batch").isin(
            sorted({b for b, _ in affected})
        ) & F.col("cell").isin(sorted({c for _, c in affected}))
        pairs = self.spark.createDataFrame(
            affected, "batch string, cell long"
        )

        def scoped(frame: DataFrame) -> DataFrame:
            return frame.filter(coarse).join(
                F.broadcast(pairs), ["batch", "cell"], "left_semi"
            )

        # materialized: replace_partitions' frame must not read the index
        keep = (
            scoped(rows)
            .join(ids, "vec_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        result["vecs_erased"] = (
            scoped(rows).join(ids, "vec_id")
            .select("vec_id").distinct().count()
        )
        replace_partitions(
            keep.select("vec_id", "codes", "batch", "cell").repartition("cell"),
            self.rows_path,
            ["batch", "cell"],
            affected,
        )
        return result

    # -- probe ------------------------------------------------------------------

    def probe(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """(query_id, rk, nbr_id, nbr_batch, score): top-k neighbors of
        each query over the probed cells of the STORED index — old rows
        are scored from their persisted codes, never re-encoded. Scoring
        is the exact-integer asymmetric dot of ``sq8_topk``; candidate
        and tie rules match ``ivf_sq8_topk`` bit for bit."""
        qs = queries.select(
            F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("q_vec")
        ).withColumn("q_norm", norm_expr(F.col("q_vec")))
        routed = (
            qs.crossJoin(F.broadcast(self.centroids()))
            .withColumn(
                "c_cos",
                dot_expr(F.col("q_vec"), F.col("centroid"))
                / (F.col("q_norm") * F.col("c_norm")),
            )
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.col("c_cos").desc(), F.col("cell").asc()
                    )
                ),
            )
            .filter(F.col("rk") <= nprobe)
            .select("query_id", "cell")
            .localCheckpoint(eager=True)
        )
        # bounded collect (≤ queries·nprobe ints): the routed cell ids
        # become a LITERAL partition filter so the index scan prunes
        # cell directories instead of reading the whole table
        probe_cells = sorted(
            {r["cell"] for r in routed.select("cell").distinct().collect()}
        )
        idx = self.index_rows().filter(F.col("cell").isin(probe_cells))
        qm = quantized_points(queries, id_col, vec_col).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qm")
        )
        cand = idx.join(
            F.broadcast(routed),
            (idx.cell == routed.cell) & (F.col("query_id") != F.col("vec_id")),
        ).select("query_id", F.col("vec_id").alias("nbr_id"), "batch", "codes")
        scored = cand.join(F.broadcast(qm), "query_id").select(
            "query_id",
            "nbr_id",
            F.col("batch").alias("nbr_batch"),
            F.aggregate(
                F.zip_with(F.col("codes"), F.col("qm"), lambda c, q: c * q),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("nbr_id").asc()
        )
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "rk", "nbr_id", "nbr_batch", "score")
        )

    # -- refit lifecycle ---------------------------------------------------------

    def needs_refit(
        self, embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> bool:
        """True when the incoming batch exceeds the frozen per-dimension
        range on ANY dimension — encoding it would produce |codes| > 127
        (the unclamped out-of-range honesty documented on the module).
        The standard consumer of :meth:`scale_drift`: check before
        ``add_batch`` and schedule a :meth:`refit` when it fires."""
        return bool(
            self.scale_drift(embeddings, id_col, vec_col)
            .filter(F.col("drift_ratio") > 1.0)
            .limit(1)
            .count()
        )

    def refit(
        self,
        batch_id: str,
        corpus: DataFrame,
        cell_col: str = "label",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Rebuild the frozen artifacts from the accumulated corpus and
        re-encode every row — the escape hatch when drift accumulates,
        same lifecycle as compaction: a full rewrite, not an increment.

        The caller supplies the accumulated corpus with fresh coarse
        labels (the index stores CODES, not vectors — the raw embedding
        table is the system of record, exactly the FAISS-rebuild /
        Milvus-segment-compaction contract). The rebuild stages a
        complete sibling index, then swaps directories: a crash before
        the first rename leaves the old index fully live; between the
        two renames the index path is briefly absent — re-running refit
        detects the leftover swap siblings, rebuilds from the supplied
        corpus (the system of record), and reconverges — the same
        rewrite-then-swap posture as compact(). A sibling staged by a
        refit whose bootstrap failed is removed before the error
        propagates, and any orphans from earlier crashed swaps are swept
        once the new index is live.

        100 TB shape: one bootstrap-equivalent pass over the corpus
        (centroid agg + scales agg + one assign/encode write) — O(corpus)
        by necessity, which is WHY increments freeze the artifacts and
        this runs only when :meth:`needs_refit` fires."""
        import glob
        import shutil
        import uuid

        swap_orphans = glob.glob(f"{self.path}.refit-*") + glob.glob(
            f"{self.path}.pre-refit-*"
        )
        if not os.path.isdir(self.centroids_path) and not swap_orphans:
            # absent index + no swap debris = never bootstrapped; a
            # crashed swap instead leaves its siblings behind and is
            # resumed below (ADVICE r8: this guard used to fire on the
            # documented crash-between-renames recovery path too)
            raise ValueError(
                f"index at {self.path} is not bootstrapped; use bootstrap()"
            )
        token = uuid.uuid4().hex[:8]
        staged = f"{self.path}.refit-{token}"
        fresh = IncrementalIvfIndex(self.spark, staged)
        try:
            fresh.bootstrap(batch_id, corpus, cell_col, id_col, vec_col)
        except BaseException:
            # a failed rebuild must not orphan the staged sibling
            # (ADVICE r8: new token per call, so leaks accumulated)
            shutil.rmtree(staged, ignore_errors=True)
            raise
        if os.path.isdir(self.path):
            old = f"{self.path}.pre-refit-{token}"
            os.rename(self.path, old)
            swap_orphans.append(old)
        os.rename(staged, self.path)
        for orphan in swap_orphans:
            shutil.rmtree(orphan, ignore_errors=True)

    # -- drift monitoring -------------------------------------------------------

    def scale_drift(
        self, embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> DataFrame:
        """(pos, frozen_mx, batch_mx, drift_ratio): per-dimension range
        of an incoming batch vs the frozen scales — the refit signal
        (drift_ratio > 1 means |codes| > 127 for that dimension)."""
        frozen = self.spark.createDataFrame(
            [(i, int(s)) for i, s in enumerate(self.scales())],
            "pos int, frozen_mx long",
        )
        batch = (
            quantized_points(embeddings, id_col, vec_col)
            .select(F.posexplode("v").alias("pos", "m"))
            .groupBy("pos")
            .agg(F.max(F.abs("m")).alias("batch_mx"))
        )
        return frozen.join(batch, "pos", "left").select(
            "pos",
            "frozen_mx",
            F.coalesce("batch_mx", F.lit(0)).alias("batch_mx"),
            F.when(F.col("frozen_mx") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.coalesce("batch_mx", F.lit(0)).cast("double")
                / F.col("frozen_mx").cast("double")
            )
            .alias("drift_ratio"),
        )
