"""The benchmark's workloads.

Each workload generates its inputs from a seed with numpy
(``fixture``), builds what its op reads with Spark (``build``), runs
one closed-loop op at a time (``op``, which returns whether the op's
output matched numpy), and checks the state the ops left behind
(``final_check``, where there is state to check).  ``probes`` run only in the traced run, after the
measured window, and time one layer in isolation.

Every call into the engine goes through ``tr.span(name)`` so the
traced run can attribute wall time and Spark jobs to the layer; in an
untraced run the span is a no-op.
"""

from __future__ import annotations

import os
import shutil
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

# --- shared helpers ---------------------------------------------------------


def _ome_records(ids, planes):
    from ome_arrow_spark.sources.numpy_ingest import from_numpy
    from datetime import datetime

    return [
        from_numpy(
            p.reshape(1, 1, 1, *p.shape),
            image_id=i,
            acquisition_datetime=datetime(2025, 1, 1),
        )
        for i, p in zip(ids, planes)
    ]


def _images_df(spark, ids, planes):
    """Pre-decoded images as a one-column OME DataFrame (driver-side
    Arrow, no decode job)."""
    import pyarrow as pa

    from ome_arrow_spark.sources.arrow_records import (
        ome_arrow_field_type,
        records_to_arrow_batch,
    )

    batch = records_to_arrow_batch(
        _ome_records(ids, planes), "ome_arrow", ome_arrow_field_type()
    )
    return spark.createDataFrame(pa.Table.from_batches([batch]))


def _parquet_sizes(table):
    """Data file name → bytes, for the files directly in ``table``."""
    return {
        e.name: e.stat().st_size
        for e in os.scandir(table)
        if e.name.endswith(".parquet") and e.is_file()
    }


def _stats_of(plane):
    p = plane.astype(np.int64)
    return int(p.min()), int(p.max()), int(p.sum()), int(p.size)


def _rows_match(rows, expected):
    """``plane_stats`` rows vs ``{image_id: (min, max, sum, count)}``."""
    got = {
        r["image_id"]: (r["px_min"], r["px_max"], r["px_sum"], r["px_count"])
        for r in rows
    }
    return len(rows) == len(expected) and got == expected


def _round6(x: float) -> float:
    """Spark's ``round(double, 6)``: HALF_UP on the double's shortest
    decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


# --- tiff_ingest ------------------------------------------------------------


class TiffIngest:
    """64 single-plane 512² uint16 TIFFs → from_tiff_dir → plane_stats."""

    n_files = 64
    size = 512
    warmup_ops = 1
    plane_stats_probe_ops = 3

    def fixture(self, rng, work):
        from ome_arrow_spark.sources.tiff_minimal import (
            build_ome_xml,
            encode_tiff_baseline,
        )

        self.dir = os.path.join(work, "tiffs")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.expected = {}
        for k in range(self.n_files):
            iid = f"img-{k:04d}"
            plane = rng.integers(0, 65536, (self.size, self.size), np.uint16)
            xml = build_ome_xml(
                image_id=iid, name=iid, size_t=1, size_c=1, size_z=1,
                size_y=self.size, size_x=self.size,
            )
            with open(os.path.join(self.dir, f"{iid}.tif"), "wb") as f:
                f.write(encode_tiff_baseline(plane, description=xml))
            self.expected[iid] = _stats_of(plane)

    def build(self, spark, tr):
        pass

    def op(self, spark, tr, i):
        from ome_arrow_spark.operators.views import plane_stats
        from ome_arrow_spark.sources.tiff import from_tiff_dir

        with tr.span("sources.tiff.from_tiff_dir"):
            images = from_tiff_dir(spark, self.dir)
        with tr.span("operators.views.plane_stats"):
            stats = plane_stats(images)
        with tr.span("collect"):
            rows = stats.collect()
        return _rows_match(rows, self.expected)

    def probes(self, spark, tr):
        """plane_stats alone, on images decoded ahead of time."""
        from ome_arrow_spark.operators.views import plane_stats
        from ome_arrow_spark.sources.tiff import from_tiff_dir

        decoded = from_tiff_dir(spark, self.dir).localCheckpoint(eager=True)
        times = []
        for r in range(self.plane_stats_probe_ops):
            with tr.span("operators.views.plane_stats_probe", op=-1 - r) as s:
                ok = _rows_match(plane_stats(decoded).collect(), self.expected)
            times.append(s.duration)
            if not ok:
                raise AssertionError("plane_stats probe mismatch")
        return {"operators.views.plane_stats_s": float(np.median(times))}


# --- OME table (ome_merge) ---------------------------------------------------


class _OmeTable:
    """A 256-image, 128² OME table range-clustered into 16 files."""

    n_images = 256
    size = 128
    n_files = 16

    def fixture(self, rng, work):
        self.table = os.path.join(work, "ome_table")
        self.ids = [f"img-{k:04d}" for k in range(self.n_images)]
        self.planes = rng.integers(
            0, 65536, (self.n_images, self.size, self.size), np.uint16
        )
        self.rng = np.random.default_rng(rng.integers(2**63))

    def build(self, spark, tr):
        with tr.span("sources.table_log.create_ome_table") as s:
            self._create(spark, self.table)
        self.create_s = s.duration

    def _create(self, spark, table):
        """Write the current pixels as a fresh table of ``n_files``
        files, each holding one block of consecutive ids."""
        from pyspark.sql import functions as F

        from ome_arrow_spark.sources.table_log import create_ome_table

        images = _images_df(spark, self.ids, self.planes).repartitionByRange(
            self.n_files, F.col("ome_arrow.id")
        )
        create_ome_table(spark, images, table, overwrite=True)

    lookup_ids = 4
    crop = 64

    def lookup(self, spark, tr, table):
        """read_ome_table(4 seeded ids) → 64² slice_images →
        plane_stats → collect, checked against the current pixels."""
        from ome_arrow_spark.operators.slice_op import slice_images
        from ome_arrow_spark.operators.views import plane_stats
        from ome_arrow_spark.sources.table_log import read_ome_table

        ks = sorted(self.rng.choice(self.n_images, self.lookup_ids, replace=False))
        ids = [self.ids[k] for k in ks]
        x0, y0 = (int(v) for v in self.rng.integers(0, self.size - self.crop, 2))
        with tr.span("sources.table_log.read_ome_table"):
            images = read_ome_table(spark, table, image_ids=ids)
        with tr.span("operators.slice_op.slice_images"):
            sliced = slice_images(images, x0, x0 + self.crop, y0, y0 + self.crop)
        with tr.span("operators.views.plane_stats"):
            stats = plane_stats(sliced)
        with tr.span("collect"):
            rows = stats.collect()
        expected = {
            self.ids[k]: _stats_of(
                self.planes[k][y0:y0 + self.crop, x0:x0 + self.crop]
            )
            for k in ks
        }
        return _rows_match(rows, expected)


# op ids of the traced run's lookup probes: -10000, -10001, ...
# (warm-up ops are -1000 * pass - i, merge probes -1 ... -10)
LOOKUP_OP0 = -10_000


class OmeMerge(_OmeTable):
    """upsert_ome_table of 8 pre-decoded images with existing ids.

    Each batch draws its ids from one file's block of consecutive ids,
    the way a micro-batch of one plate or well lands: the merge's range
    and Bloom pruning can then keep it to one file, and the other 15
    files are carried by reference."""

    batch = 8
    pool = 16
    # with one warm-up op a pass, op latency still fell ~30% across the
    # window while the driver JVM compiled the merge's query plans
    warmup_ops = 6
    merge_probe_ops = 10
    lookup_probe_ops = 8

    def fixture(self, rng, work):
        super().fixture(rng, work)
        block = self.n_images // self.n_files
        self.batch_ids = [
            sorted(b * block + rng.choice(block, self.batch, replace=False))
            for b in rng.integers(0, self.n_files, self.pool)
        ]
        self.batch_planes = [
            rng.integers(0, 65536, (self.batch, self.size, self.size), np.uint16)
            for _ in range(self.pool)
        ]
        self.last_sum = {}

    def build(self, spark, tr):
        super().build(spark, tr)
        self.commits = {}
        self.batches = [
            _images_df(spark, [self.ids[k] for k in ks], pl)
            for ks, pl in zip(self.batch_ids, self.batch_planes)
        ]
        self.last_sum = {}

    def op(self, spark, tr, i):
        from ome_arrow_spark.sources.table_log import (
            table_details,
            upsert_ome_table,
        )

        j = i % self.pool
        before = _parquet_sizes(self.table) if tr.enabled else None
        with tr.span("sources.table_log.upsert_ome_table") as s:
            version = upsert_ome_table(spark, self.batches[j], self.table)
        for k, pl in zip(self.batch_ids[j], self.batch_planes[j]):
            self.planes[k] = pl
            self.last_sum[self.ids[k]] = int(pl.astype(np.int64).sum())
        details = table_details(self.table)
        if tr.enabled:
            self.commits[tr.op] = self._commit_stats(version, s, before, details)
        return details["total_rows"] == self.n_images

    def _commit_stats(self, version, span, before, details):
        from ome_arrow_spark.sources.table_log import (
            CHECKPOINT_EVERY,
            table_history,
        )

        last = table_history(self.table)[-1]
        after = _parquet_sizes(self.table)
        return {
            "version": version,
            "checkpoint": version % CHECKPOINT_EVERY == 0,
            "op_s": span.duration,
            "files_added": last["added_files"],
            "files_removed": last["removed_files"],
            "mb_written": sum(
                b for f, b in after.items() if f not in before
            ) / 2**20,
            "live_files": details["num_files"],
            "table_mb": details["total_bytes"] / 2**20,
        }

    def probes(self, spark, tr):
        """Keep merging until one commit has written a log checkpoint,
        so its latency is measured even when the window missed one;
        then time point lookups on a freshly written 16-file table of
        the current pixels (the read side's own, unmerged layout)."""
        from ome_arrow_spark.sources.table_log import (
            CHECKPOINT_EVERY,
            table_details,
        )

        assert CHECKPOINT_EVERY <= self.merge_probe_ops
        for r in range(self.merge_probe_ops):
            if any(c["checkpoint"] for c in self.commits.values()):
                break
            tr.op = -1 - r
            with tr.span("op"):
                if not self.op(spark, tr, r):
                    raise AssertionError("merge probe mismatch")
        tr.op = None
        fresh = self.table + "_lookup"
        self._create(spark, fresh)
        self.lookup_files = table_details(fresh)["num_files"]
        self.lookup_ops = []
        for r in range(self.lookup_probe_ops):
            tr.op = LOOKUP_OP0 - r
            with tr.span("op"):
                if not self.lookup(spark, tr, fresh):
                    raise AssertionError("lookup probe mismatch")
            self.lookup_ops.append(tr.op)
        tr.op = None
        return {}

    def final_check(self, spark, tr):
        from pyspark.sql import functions as F

        from ome_arrow_spark.operators.views import plane_stats
        from ome_arrow_spark.sources.table_log import read_ome_table

        ids = sorted(self.last_sum)
        got = {
            r["image_id"]: r["s"]
            for r in plane_stats(read_ome_table(spark, self.table, image_ids=ids))
            .groupBy("image_id")
            .agg(F.sum("px_sum").alias("s"))
            .collect()
        }
        return got == self.last_sum


# --- knn_join ---------------------------------------------------------------


class KnnJoin:
    """knn_join_lsh self-join, k=3, T=8 tables, target bucket 64."""

    n = 1200
    dim = 48
    clusters = 64
    noise = 0.7
    k = 3
    n_tables = 8
    target_bucket = 64
    warmup_ops = 1
    # recall@3 vs numpy brute force measured 0.929-0.951 (median 0.942)
    # over 23 seeds at this operating point; see README.md
    recall_floor = 0.92

    def fixture(self, rng, work):
        centers = rng.normal(size=(self.clusters, self.dim))
        member = rng.integers(0, self.clusters, self.n)
        self.vecs = centers[member] + self.noise * rng.normal(size=(self.n, self.dim))
        self.truth = self._brute_force()

    def _sequential_cos(self, q, c):
        """Cosine with Spark's left-to-right fold order (cumsum is
        sequential, so the doubles match the engine's bit for bit)."""
        v = self.vecs
        d = np.cumsum(v[q] * v[c], axis=1)[:, -1]
        nq = np.sqrt(np.cumsum(v[q] * v[q], axis=1)[:, -1])
        nc = np.sqrt(np.cumsum(v[c] * v[c], axis=1)[:, -1])
        return d / (nq * nc)

    def _brute_force(self):
        v = self.vecs
        u = v / np.linalg.norm(v, axis=1, keepdims=True)
        sims = u @ u.T
        # ties broken on candidate id, like the engine's window
        order = np.lexsort((np.arange(self.n)[None, :].repeat(self.n, 0), -sims))
        return {q: set(order[q, : self.k].tolist()) for q in range(self.n)}

    def build(self, spark, tr):
        import pyarrow as pa
        from pyspark.sql import functions as F

        from ome_arrow_spark.operators.similarity import knn_join_planes

        tbl = pa.table(
            {
                "id": pa.array(np.arange(self.n, dtype=np.int64)),
                "embedding": pa.array(list(self.vecs), pa.list_(pa.float64())),
            }
        )
        emb = spark.createDataFrame(tbl)
        self.left = emb.select(F.col("id").alias("qid"), "embedding")
        self.right = emb.select(F.col("id").alias("cid"), "embedding")
        self.planes = knn_join_planes(self.n, target_bucket=self.target_bucket)

    def _check(self, rows):
        if len(rows) != self.n * self.k:
            return False, 0.0
        q = np.array([r["qid"] for r in rows])
        c = np.array([r["cid"] for r in rows])
        want = [_round6(x) for x in self._sequential_cos(q, c)]
        if any(r["cos_sim"] != w for r, w in zip(rows, want)):
            return False, 0.0
        hits = sum(1 for qi, ci in zip(q.tolist(), c.tolist()) if ci in self.truth[qi])
        recall = hits / (self.n * self.k)
        return recall >= self.recall_floor, recall

    def op(self, spark, tr, i):
        from ome_arrow_spark.operators.similarity import knn_join_lsh

        with tr.span("operators.similarity.knn_join_lsh"):
            res = knn_join_lsh(
                self.left, self.right, k=self.k, n_planes=self.planes,
                n_tables=self.n_tables, target_bucket=self.target_bucket,
            )
        with tr.span("collect"):
            rows = res.collect()
        ok, self.recall = self._check(rows)
        return ok

    def probes(self, spark, tr):
        """Candidate generation and scoring+ranking, timed apart."""
        from ome_arrow_spark.operators.similarity import (
            knn_join_candidates,
            knn_join_lsh,
        )

        args = dict(n_planes=self.planes, n_tables=self.n_tables,
                    target_bucket=self.target_bucket)
        tr.op = -1
        with tr.span("operators.similarity.knn_join_candidates") as c:
            cands = knn_join_candidates(self.left, self.right, **args)
            cands = cands.localCheckpoint(eager=True)
        pairs = cands.count()
        with tr.span("operators.similarity.score_rank") as r:
            rows = knn_join_lsh(
                self.left, self.right, k=self.k, candidates=cands, **args
            ).collect()
        tr.op = None
        if not self._check(rows)[0]:
            raise AssertionError("knn probe mismatch")
        return {
            "operators.similarity.candidates_s": c.duration,
            "operators.similarity.candidate_pairs": pairs,
            "operators.similarity.score_rank_s": r.duration,
            "operators.similarity.useful_ratio": self.n * self.k / pairs,
        }

    def summary(self):
        return f"recall@3={self.recall:.4f} (floor {self.recall_floor})"


WORKLOADS = {
    "tiff_ingest": TiffIngest,
    "ome_merge": OmeMerge,
    "knn_join": KnnJoin,
}
