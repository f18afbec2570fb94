"""The three workloads. Each one builds its op from the package's public
functions, checks the op's output, and (in the traced run) turns the
op's spans into per-layer figures.

An op is the unit the benchmark times:

* ``tree``: ``DecisionTree.fit`` (entropy, mean, depth-first,
  ``max_depth=TREE_DEPTH``) on the training table, then
  ``transform_proba`` of the scoring table into the noop sink.
* ``decode``: ``decode_pixels(media, formats=("png", "gif"),
  png_dynamic_huffman=True)``, collected, so every output column is
  computed.
* ``ingest``: ``ingest_stages`` composed with ``keepalive`` as
  ``q_e12_batch_ingest`` composes them, collected.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow.parquet as pq

from inputs import CACHE_DIR, DATA_DIR, TREE_DEPTH
from layers import local_property, union_s


def _force_plan(tracer, df) -> None:
    """Traced run only: time the physical planning of ``df`` apart from
    its execution. Only for ops that then collect ``df``: the Dataset
    keeps the planned ``QueryExecution`` and the collect reuses it."""
    if tracer.enabled:
        with tracer.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()


class Workload:
    name = ""

    def __init__(self, spark, inputs: dict, tracer):
        self.spark = spark
        self.inputs = inputs
        self.tracer = tracer

    def units_per_op(self) -> int:
        raise NotImplementedError

    def op(self):
        raise NotImplementedError

    def check(self, result) -> bool:
        raise NotImplementedError

    def prepare_check(self) -> None:
        """Untimed work the checks need, run once after the last op."""

    def install_wrappers(self) -> None:
        """Traced run only: wrap package functions called from inside
        other layers, so their calls get spans too."""

    def layer_metrics(self, op_id, spans) -> dict:
        return {}


# -- tree ---------------------------------------------------------------


def _entropy(p1: float) -> float:
    if p1 <= 0.0 or p1 >= 1.0:
        return 0.0
    p0 = 1.0 - p1
    return -p0 * math.log2(p0) - p1 * math.log2(p1)


def reference_tree(x: np.ndarray, y: np.ndarray, names, max_depth: int) -> dict:
    """Independent NumPy fit with the package's documented semantics:
    mean thresholds, unweighted sum of child entropies, ties to the
    smaller feature name, majority ties to 0, a one-sided split or a
    pure node ends in a leaf. Returns the JSON ``nodes`` shape."""
    order = sorted(range(len(names)), key=lambda j: names[j])

    def fit(idx: np.ndarray, depth: int) -> dict:
        n, n1 = len(idx), int(y[idx].sum())
        leaf = {"class": 1 if 2 * n1 > n else 0}
        if _entropy(n1 / n) == 0.0 or depth == max_depth:
            return leaf
        xs, ys = x[idx], y[idx]
        thr = xs.astype(np.float64).mean(axis=0)
        best = None
        for j in order:
            left = xs[:, j] <= thr[j]
            ln = int(left.sum())
            lp = float(ys[left].mean()) if ln else 0.0
            rp = float(ys[~left].mean()) if ln < n else 0.0
            score = _entropy(lp) + _entropy(rp)
            if best is None or score < best[0]:
                best = (score, j, left, ln)
        _, j, left, ln = best
        if ln in (0, n):
            return leaf
        t = float(thr[j])
        return {
            f"{names[j]} <= {t}": fit(idx[left], depth + 1),
            f"{names[j]} > {t}": fit(idx[~left], depth + 1),
        }

    return fit(np.arange(len(y)), 0)


def _split_key(nodes: dict):
    return next((k for k in nodes if " <= " in k), None)


def same_tree(a: dict, b: dict, rel_tol: float = 1e-9) -> bool:
    """Equal structure, features and leaves; thresholds equal within
    ``rel_tol`` (Spark and NumPy sum the means in different orders)."""
    ka, kb = _split_key(a), _split_key(b)
    if ka is None or kb is None:
        return a == b
    (fa, ta), (fb, tb) = ka.split(" <= "), kb.split(" <= ")
    return (
        fa == fb
        and math.isclose(float(ta), float(tb), rel_tol=rel_tol)
        and same_tree(a[ka], b[kb], rel_tol)
        and same_tree(a[f"{fa} > {ta}"], b[f"{fb} > {tb}"], rel_tol)
    )


def walk_tree_json(nodes: dict, row: dict) -> int:
    """Pure-Python prediction of one row from a tree's JSON ``nodes``."""
    while (key := _split_key(nodes)) is not None:
        attr, thr = key.split(" <= ")
        nodes = nodes[key] if row[attr] <= float(thr) else nodes[f"{attr} > {thr}"]
    return int(next(iter(nodes.values())))


class TreeWorkload(Workload):
    name = "tree"
    SAMPLE_ROWS = 256

    def __init__(self, spark, inputs, tracer):
        super().__init__(spark, inputs, tracer)
        from decision_tree_stuff_spark import DecisionTree, DecisionTreeParams

        self.DecisionTree = DecisionTree
        self.params = DecisionTreeParams([], "class", "mean", "entropy", max_depth=TREE_DEPTH)
        self.train = spark.read.parquet(inputs["train"])
        self.score = spark.read.parquet(inputs["score"])
        self.first_json = None

    def units_per_op(self) -> int:
        return self.inputs["train_rows"] + self.inputs["score_rows"]

    def op(self):
        tr = self.tracer
        model = self.DecisionTree(self.params)
        with tr.span("dtree.fit"):
            model.fit(self.train)
        with tr.span("dtree.score"):
            # no _force_plan here: the noop write plans its own command
            # again, so a forced plan would only add tracing overhead
            scored = model.transform_proba(self.score, stats_from=self.train)
            scored.write.format("noop").mode("overwrite").save()
        return model

    def check(self, model) -> bool:
        """Every op's tree JSON is byte-identical to the first checked
        one; that one must match the NumPy reference fit, and its
        predictions on a sample of the scoring table must match a
        pure-Python walk of its JSON."""
        if self.first_json is not None:
            return model.json() == self.first_json
        names = self.inputs["features"]
        train = pq.read_table(self.inputs["train"])
        x = np.stack([train[c].to_numpy() for c in names], axis=1)
        expected = reference_tree(x, train["class"].to_numpy(), names, TREE_DEPTH)
        nodes = json.loads(model.json())["nodes"]
        if not same_tree(nodes, expected):
            return False
        sample = pq.read_table(self.inputs["score"]).slice(0, self.SAMPLE_ROWS)
        rows = sample.to_pylist()
        got = model.transform(self.spark.createDataFrame(sample.to_pandas())).collect()
        if [r["prediction"] for r in got] != [walk_tree_json(nodes, r) for r in rows]:
            return False
        self.first_json = model.json()
        return True

    def install_wrappers(self) -> None:
        import decision_tree_stuff_spark.dtree as dtree

        sc = self.spark.sparkContext
        self.tracer.wrap(
            dtree,
            "score_all_splits_wide",
            "splitting.score_all_splits_wide",
            job_group=lambda op: local_property(sc, "spark.jobGroup.id", f"op{op}/splitting"),
        )

    def layer_metrics(self, op_id, spans) -> dict:
        split_spans = [s for s in spans if s["name"] == "splitting.score_all_splits_wide"]
        top = {s["name"]: s for s in spans if s["parent"] is None}
        status = self.spark.sparkContext.statusTracker()
        return {
            "dtree.fit_s": top["dtree.fit"]["end"] - top["dtree.fit"]["start"],
            "dtree.fit_jobs": top["dtree.fit"]["jobs"],
            "dtree.score_s": top["dtree.score"]["end"] - top["dtree.score"]["start"],
            "dtree.score_jobs": top["dtree.score"]["jobs"],
            "splitting.calls": len(split_spans),
            "splitting.busy_s": union_s(split_spans),
            "splitting.jobs": len(status.getJobIdsForGroup(f"op{op_id}/splitting")),
        }


# -- decode -------------------------------------------------------------


class DecodeWorkload(Workload):
    name = "decode"

    def __init__(self, spark, inputs, tracer):
        super().__init__(spark, inputs, tracer)
        from decision_tree_stuff_spark.operators.multimodal import decode_pixels

        self.decode_pixels = decode_pixels
        self.media = spark.read.parquet(inputs["media"]).select("media_id", "payload")
        self.expected = None
        self.plan_chars = 0

    def units_per_op(self) -> int:
        return self.inputs["images"]

    def op(self):
        tr = self.tracer
        with tr.span("multimodal.build"):
            decoded = self.decode_pixels(self.media, formats=("png", "gif"), png_dynamic_huffman=True)
        _force_plan(tr, decoded)
        with tr.span("spark.exec"):
            rows = decoded.collect()
        if tr.enabled and not self.plan_chars:
            self.plan_chars = len(decoded._jdf.queryExecution().analyzed().toString())
        return rows

    def prepare_check(self) -> None:
        """Decode every payload with the stdlib twins and require them to
        agree with the pixels the generator drew."""
        from decision_tree_stuff_spark.operators.multimodal import decode_gif, decode_png

        self.expected = {}
        for r in pq.read_table(self.inputs["media"]).to_pylist():
            if r["true_format"] == "png":
                w, h, px = decode_png(r["payload"], dynamic_huffman=True)
            else:
                w, h, px = decode_gif(r["payload"])
            twin = (r["true_format"], w, h, list(px))
            truth = (r["true_format"], r["true_width"], r["true_height"], r["true_pixels"])
            if twin != truth:
                raise RuntimeError(f"stdlib twin disagrees with the generator on image {r['media_id']}")
            self.expected[r["media_id"]] = twin

    def check(self, rows) -> bool:
        got = {r["media_id"]: (r["img_format"], r["width"], r["height"], list(r["pixels"])) for r in rows}
        return len(rows) == len(self.expected) and got == self.expected

    def layer_metrics(self, op_id, spans) -> dict:
        build = next(s for s in spans if s["name"] == "multimodal.build")
        return {
            "multimodal.build_s": build["end"] - build["start"],
            "multimodal.plan_chars": self.plan_chars,
        }


# -- ingest -------------------------------------------------------------

INGEST_COLUMNS = ("doc_id", "lang", "n_tokens", "pack_id", "pack_offset")


def ingest_oracle(data_dir: str) -> list:
    """The DuckDB twin of e12 over the bundled, unpermuted tables,
    computed once per checkout and cached beside the inputs."""
    path = os.path.join(CACHE_DIR, "ingest-oracle.json")
    if os.path.exists(path):
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]
    import duckdb

    from decision_tree_stuff_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        for name in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(data_dir, name)}.parquet')"
            )
        rows = sorted(
            tuple(r) for r in con.execute(
                f"SELECT {', '.join(INGEST_COLUMNS)} FROM ({ORACLE_SQL['e12_batch_ingest']})"
            ).fetchall()
        )
    finally:
        con.close()
    os.makedirs(CACHE_DIR, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(rows, f)
    os.replace(path + ".tmp", path)
    return rows


class IngestWorkload(Workload):
    name = "ingest"
    STAGES = (
        "dedup",
        "gopher",
        "lm_gate",
        "bloom_decontam",
        "semantic_decontam",
        "temperature_sample",
        "pack",
    )

    def __init__(self, spark, inputs, tracer):
        super().__init__(spark, inputs, tracer)
        from decision_tree_stuff_spark.queries.ingest import ingest_stages
        from decision_tree_stuff_spark.utils import keepalive

        self.ingest_stages = ingest_stages
        self.keepalive = keepalive
        self.sf_dir = inputs["sf_dir"]
        # the stages read these scans through the same per-session
        # memo, so registering them here puts the listing in set-up
        from decision_tree_stuff_spark.queries._shared import _docs, _emb

        self.docs = _docs(spark, self.sf_dir)
        _emb(spark, self.sf_dir)
        self.expected = None

    def units_per_op(self) -> int:
        return self.inputs["documents"]

    def op(self):
        tr = self.tracer
        out = self.docs
        stage_frames = []
        for name, fn in self.ingest_stages(self.spark, self.sf_dir):
            with tr.span(f"ingest.{name}.build"):
                out = fn(out)
            stage_frames.append(out)
        manifest = self.keepalive(out.select(*INGEST_COLUMNS), *stage_frames)
        _force_plan(tr, manifest)
        with tr.span("ingest.exec"):
            rows = manifest.collect()
        return sorted(tuple(r) for r in rows)

    def prepare_check(self) -> None:
        self.expected = ingest_oracle(DATA_DIR)

    def check(self, rows) -> bool:
        return rows == self.expected

    def install_wrappers(self) -> None:
        import decision_tree_stuff_spark.operators.clustering as clustering
        import decision_tree_stuff_spark.utils as utils

        # clustering binds the function at import; graph imports it from
        # utils at call time
        for mod in (clustering, utils):
            self.tracer.wrap(mod, "broadcast_if_small", "utils.broadcast_if_small")

    def layer_metrics(self, op_id, spans) -> dict:
        out = {}
        by_name = {s["name"]: s for s in spans if s["parent"] is None}
        for stage in self.STAGES:
            s = by_name[f"ingest.{stage}.build"]
            out[f"ingest.{stage}.build_s"] = s["end"] - s["start"]
            out[f"ingest.{stage}.build_jobs"] = s["jobs"]
        ex = by_name["ingest.exec"]
        out["ingest.exec_s"] = ex["end"] - ex["start"]
        out["ingest.exec_jobs"] = ex["jobs"]
        bis = [s for s in spans if s["name"] == "utils.broadcast_if_small"]
        out["utils.broadcast_if_small.calls"] = len(bis)
        out["utils.broadcast_if_small.busy_s"] = union_s(bis)
        return out


WORKLOADS = {w.name: w for w in (TreeWorkload, DecodeWorkload, IngestWorkload)}
