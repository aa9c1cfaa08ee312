"""The three benchmark workloads: how each reads its input, what one
pass runs, how the outputs are checked and which layer counts it adds.

Every op is one call into a public function of the engine (mostly a
registry ``q_*`` query from ``__spark_entry__``), forced with the noop
writer on the persisted input. The harness wraps each op in a span named
after the layer it times; nothing inside ``movingspark/`` is touched.

A workload has ``name`` and ``ops`` and these methods, which the harness
calls without knowing which workload it runs:

- ``read(spark, data_dir) -> (inputs, rows)``: read and persist the input;
- ``run_pass(ctx, inputs, data_dir)``: one pass over every op;
- ``after_pass(ctx)``: untimed clean-up after each pass;
- ``check(ctx, data_dir) -> (problems, extra)``: check the collected pass;
- ``layer_counts(spark, inputs, checked, extra, last_label, data_dir)``:
  per-layer counts of a traced run (untimed, after the passes).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def import_tool(name: str):
    """Import a module from the repo's tools/ directory. Those scripts
    put their own checkout path on sys.path when imported; restore
    sys.path so nothing is looked up outside this checkout."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        return __import__(name)
    finally:
        sys.path[:] = saved


@dataclass(frozen=True)
class Op:
    name: str
    metric: str  # per-layer metric its span time feeds
    fn: Callable  # (spark, data_dir) -> DataFrame
    oracle: str | None = None  # registry oracle_sql() key, if checked that way
    collect: bool = True  # collect its output in the check pass


class PassContext:
    """State for one pass: runs ops inside tracer spans and records the
    row count of every op. In collect mode, ops flagged for checking are
    collected to pandas instead of forced with the noop writer."""

    def __init__(self, spark, tracer, label: str, collect: bool = False):
        self.spark = spark
        self.tracer = tracer
        self.label = label
        self.collect = collect
        self.rows: dict[str, int] = {}
        self.errors: dict[str, str] = {}
        self.outputs: dict[str, pd.DataFrame] = {}
        self.counts: dict[str, float] = {}  # layer counts taken in after_pass

    def op(self, name: str, metric: str, thunk: Callable, collect: bool = True):
        """Run one op: thunk() builds the DataFrame (or does the whole
        action and returns a row count)."""
        self.spark.sparkContext.setJobDescription(f"{self.label}|{name}")
        try:
            with self.tracer.span(metric, op=name):
                out = thunk()
                if isinstance(out, int):
                    n = out
                elif self.collect and collect:
                    pdf = out.toPandas()
                    self.outputs[name] = pdf
                    n = len(pdf)
                else:
                    n = force(out)
            self.rows[name] = n
            return out
        except Exception as e:  # an op that raises counts as failed; the pass goes on
            self.errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
            return None
        finally:
            self.spark.sparkContext.setJobDescription(None)


def force(df) -> int:
    """Execute the full plan with the noop writer (a count() would prune
    columns) and return its row count through an Observation, which
    rides on the same execution."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


# ---------------------------------------------------------------------------
# traj_kernels / spatial_joins: registry queries over a persisted events table
# ---------------------------------------------------------------------------


def pip_candidates(spark, pts, polygons, res, bounds) -> int:
    """Points that land in a cell of the polygons' cover: the rows the
    PIP join's exact refine has to test."""
    from pyspark.sql import functions as F

    from movingspark import joins

    cover = joins.cover_to_df(spark, polygons, res, bounds)
    tagged = joins.with_cell(pts, res, bounds, name="__cell")
    return tagged.join(F.broadcast(cover), F.col("__cell") == cover["cell"]).count()


class EventsWorkload:
    """Registry queries over the persisted events table."""

    table = "events.parquet"
    queries: list[Op] = []

    @property
    def ops(self) -> list[Op]:
        return self.queries

    def read(self, spark, data_dir: str):
        """Read and persist the point table every registry query starts
        from; later queries hit this cache instead of the parquet file."""
        from movingspark import ingest

        pts = ingest.events_as_traj_points(spark, data_dir).persist()
        return {"pts": pts}, pts.count()

    def run_pass(self, ctx: PassContext, inputs, data_dir: str) -> None:
        for op in self.queries:
            ctx.op(op.name, op.metric, lambda op=op: op.fn(ctx.spark, data_dir))

    def after_pass(self, ctx: PassContext) -> None:
        pass

    def check(self, ctx: PassContext, data_dir: str) -> tuple[dict[str, str], dict]:
        """Per-op problems ({} when every output matched) and side numbers."""
        import duckdb

        import __spark_entry__ as E

        cc = import_tool("check_correctness")
        oracles = E.oracle_sql()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{data_dir}/events.parquet')"
        )
        problems: dict[str, str] = {}
        extra: dict = {}
        expected = self.expected(data_dir, extra)
        for op in self.queries:
            if op.name not in ctx.outputs:
                problems[op.name] = ctx.errors.get(op.name, "no output collected")
                continue
            got = ctx.outputs[op.name]
            try:
                if op.name in expected:
                    want = expected[op.name]
                    if callable(want):
                        bad = want(got)
                    else:
                        bad = cc.compare(op.name, got, con.execute(want).df())
                else:
                    bad = cc.compare(op.name, got, con.execute(oracles[op.oracle]).df())
            except Exception as e:  # a failing oracle fails the op, not the run
                bad = [f"check raised {type(e).__name__}: {str(e)[:200]}"]
            if bad:
                problems[op.name] = "; ".join(bad)
        con.close()
        return problems, extra

    def expected(self, data_dir: str, extra: dict) -> dict:
        return {}

    def layer_counts(self, spark, inputs, checked, extra, last_label, data_dir) -> dict:
        return {}


def _q(name: str) -> Callable:
    def call(spark, data_dir):
        import __spark_entry__ as E

        return getattr(E, f"q_{name}")(spark, data_dir)

    call.__name__ = f"q_{name}"
    return call


KINEMATICS = ["traj_id", "t", "x", "y", "timedelta_s", "distance", "speed", "direction",
              "angular_difference", "acceleration"]


def _kinematics(spark, data_dir):
    """derive.add_all_kinematics on the persisted points, unrounded. The
    registry's q_derive_kinematics rounds to 5 decimals after snapping to
    9, which still leaves exact 5-decimal ties that Spark and DuckDB
    round apart, so the check compares raw doubles instead."""
    from movingspark import derive, ingest

    pts = ingest.events_as_traj_points(spark, data_dir).select("traj_id", "t", "x", "y")
    return derive.add_all_kinematics(pts).select(*KINEMATICS)


def _kinematics_sql() -> str:
    """The registry oracle for q_derive_kinematics without its rounding."""
    import re

    import __spark_entry__ as E

    return re.sub(r"ROUND\(ROUND\((\w+), 9\), \d+\) \+ 0\.0", r"\1", E.SQL_DERIVE_KINEMATICS)


class TrajKernels(EventsWorkload):
    """Per-trajectory sequential kernels through gmap's mapInPandas
    boundary, plus the window-based kinematics."""

    name = "traj_kernels"
    queries = [
        Op("stops", "gmap.call_s.stops", _q("stop_points")),
        Op("dp", "gmap.call_s.dp", _q("generalize_dp")),
        Op("tdtr", "gmap.call_s.tdtr", _q("generalize_tdtr")),
        Op("kalman", "gmap.call_s.kalman", _q("kalman_smooth")),
        Op("split_angle", "gmap.call_s.split_angle", _q("split_angle")),
        Op("overlay_clip", "gmap.call_s.overlay_clip", _q("overlay_clip")),
        Op("kinematics", "derive.kinematics_s", _kinematics),
    ]

    def expected(self, data_dir: str, extra: dict) -> dict:
        """The sequential kernels have no closed-form SQL: run the same
        numpy kernels single-process (tools/gen_pinned_oracles.py) on
        this seed's data and turn their decisions into DuckDB SQL over
        the same table. Their summed time is kernels.bare_s, the no-Spark
        floor for the gmap calls."""
        G = import_tool("gen_pinned_oracles")
        pts = G.load_points(data_dir)
        bare: dict[str, float] = {}

        def timed(name, fn):
            t = time.perf_counter()
            out = fn(pts)
            bare[name] = time.perf_counter() - t
            return out

        ranges = timed("stops", G.stop_ranges)
        want = {
            "dp": G.droplist_sql(timed("dp", G.dp_drop_lists)),
            "tdtr": G.droplist_sql(timed("tdtr", G.tdtr_drop_lists)),
            "kalman": G.kalman_sql(timed("kalman", G.kalman_values)),
            "split_angle": G.angle_sql(timed("split_angle", G.angle_runs)),
            "overlay_clip": G.overlay_sql(timed("overlay_clip", G.overlay_ranges)),
            "stops": lambda got: _check_stop_ranges(got, ranges),
            "kinematics": _kinematics_sql(),
        }
        extra["kernels.bare_s"] = bare
        extra["gmap.groups"] = int(pts["traj_id"].nunique())
        extra["gmap.rows_in"] = int(len(pts))
        return want

    def layer_counts(self, spark, inputs, checked, extra, last_label, data_dir) -> dict:
        if "kernels.bare_s" not in extra:  # the check raised before the kernels ran
            return {}
        n_gmap = sum(op.metric.startswith("gmap.") for op in self.queries)
        return {
            "kernels.bare_s": sum(extra["kernels.bare_s"].values()),
            "gmap.groups": extra["gmap.groups"],
            "gmap.rows_in": extra["gmap.rows_in"] * n_gmap,
        }


def _check_stop_ranges(got: pd.DataFrame, ranges) -> list[str]:
    """Stop rows carry the detector's (start, end) decisions as
    start_time/end_time; compare them with the single-process kernel."""

    def us(col):
        s = got[col]
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_localize(None)
        return s.astype("datetime64[us]").astype(np.int64)

    have = sorted(
        (str(t), int(s), int(e))
        for t, s, e in zip(got["traj_id"], us("start_time"), us("end_time"))
    )
    want = sorted((str(t), int(s), int(e)) for t, s, e in ranges)
    if have == want:
        return []
    if len(have) != len(want):
        return [f"rowcount spark={len(have)} kernel={len(want)}"]
    i = next(i for i, (a, b) in enumerate(zip(have, want)) if a != b)
    return [f"stop ranges differ, first spark={have[i]} kernel={want[i]}"]


class SpatialJoins(EventsWorkload):
    """Catalyst-only spatial operators on a dense point table with a hot
    area, then the doc job's points stage on a small docs table (explode,
    checkpoint write and resume, span invariant); no Python workers
    start."""

    name = "spatial_joins"
    queries = [
        Op("pip", "joins.pip_s", _q("point_in_polygon"), oracle="point_in_polygon"),
        Op("tile_rollup_multires", "joins.tile_rollup_s", _q("tile_rollup_multires"),
           oracle="tile_rollup_multires"),
        Op("knn", "joins.knn_s", _q("knn"), oracle="knn"),
        Op("proximity", "proximity.pairs_s", _q("proximity_pairs"), oracle="proximity_pairs"),
        Op("convoy", "convoy.pairs_s", _q("convoy_pairs"), oracle="convoy_pairs"),
        Op("raster_regions", "raster.regions_s", _q("raster_regions"), oracle="raster_regions"),
    ]

    def __init__(self, work_dir: str):
        self.docs = DocPipeline(work_dir, stages=("points",))

    @property
    def ops(self) -> list[Op]:
        return self.queries + self.docs.ops

    def read(self, spark, data_dir: str):
        inputs, n_pts = super().read(spark, data_dir)
        doc_inputs, n_docs = self.docs.read(spark, data_dir)
        return {**inputs, **doc_inputs}, n_pts + n_docs

    def run_pass(self, ctx: PassContext, inputs, data_dir: str) -> None:
        super().run_pass(ctx, inputs, data_dir)
        self.docs.run_pass(ctx, inputs, data_dir)

    def after_pass(self, ctx: PassContext) -> None:
        self.docs.after_pass(ctx)

    def check(self, ctx: PassContext, data_dir: str) -> tuple[dict[str, str], dict]:
        problems, extra = super().check(ctx, data_dir)
        doc_problems, _ = self.docs.check(ctx, data_dir)
        return {**problems, **doc_problems}, extra

    def layer_counts(self, spark, inputs, checked, extra, last_label, data_dir) -> dict:
        import __spark_entry__ as E
        from movingspark import convoy
        from spans import sql_row_counts

        out = self.docs.layer_counts(spark, inputs, checked, extra, last_label, data_dir)
        pts = inputs["pts"].select("traj_id", "t", "x", "y")
        out["joins.pip_candidates"] = pip_candidates(
            spark, pts, [("aoi", E.POLY)], E.CELL_RES, E.CELL_BOUNDS)
        out["joins.pip_hits"] = checked.rows.get("pip", 0)
        out["convoy.facts"] = convoy.together_epochs(
            pts, E.CONVOY_MAX_DIST, E.CONVOY_EPOCH_S, E.CONVOY_RES, E.CELL_BOUNDS
        ).count()
        gen = [n for name, n in sql_row_counts(spark, f"{last_label}|proximity") if name == "Generate"]
        out["proximity.candidates"] = max(gen) if gen else 0
        out["proximity.pairs_out"] = checked.rows.get("proximity", 0)
        return out


# ---------------------------------------------------------------------------
# doc_pipeline: the north-rule job as `cli pipeline` runs it, checkpointed
# ---------------------------------------------------------------------------

DOC_AOI = [(-60.0, 60.0), (60.0, 60.0), (60.0, -60.0), (-60.0, -60.0)]
DOC_RES = 6
DOC_OPS = [
    Op("doc_explode", "ingest.explode_s", None, collect=False),
    Op("doc_ck_points", "checkpoint.write_s", None),
    Op("doc_pip", "joins.pip_s", None, collect=False),
    Op("doc_ck_spatial_join", "checkpoint.write_s", None),
    Op("doc_tile_rollup", "joins.tile_rollup_s", None),
    Op("doc_ck_tiles", "checkpoint.write_s", None),
    Op("doc_span_invariant", "ingest.span_invariant_s", None),
    Op("doc_resume", "checkpoint.resume_s", None),
]
# checkpoint stage -> the ops that compute and write it
DOC_STAGE_OPS = {
    "points": ("doc_explode", "doc_ck_points"),
    "spatial_join": ("doc_pip", "doc_ck_spatial_join"),
    "tiles": ("doc_tile_rollup", "doc_ck_tiles"),
}


class DocPipeline:
    """explode -> PIP join -> tile rollup -> span invariant, each stage
    through Checkpointer.stage, then a resume pass over the checkpoints.
    `stages` picks which checkpoint stages run (spatial_joins runs only
    "points"); the span invariant and the resume always run.

    Each compute layer is forced on its own into a persisted frame, and
    the stage then writes that frame, so explode, join, rollup and
    parquet writes get separate spans. The join and the rollup read the
    points checkpoint back, as `cli pipeline` does."""

    name = "doc_pipeline"
    table = "docs.parquet"

    def __init__(self, work_dir: str, stages: tuple[str, ...] = tuple(DOC_STAGE_OPS)):
        self.work_dir = work_dir
        self.stages = stages
        keep = {"doc_span_invariant", "doc_resume"}.union(*(DOC_STAGE_OPS[s] for s in stages))
        self.ops = [op for op in DOC_OPS if op.name in keep]

    def read(self, spark, data_dir: str):
        from movingspark.catalog import read_table

        docs = read_table(spark, os.path.join(data_dir, self.table)).persist()
        return {"docs": docs}, docs.count()

    def ck_dir(self, label: str) -> str:
        return os.path.join(self.work_dir, "checkpoints", label)

    def run_pass(self, ctx: PassContext, inputs, data_dir: str) -> None:
        from movingspark import ingest, joins
        from movingspark.checkpoint import Checkpointer

        docs = inputs["docs"]
        path = self.ck_dir(ctx.label)
        shutil.rmtree(path, ignore_errors=True)
        ck = Checkpointer(ctx.spark, path)
        frames: dict = {}  # persisted results of the compute layers
        back: dict = {}  # the same results read back from their checkpoints

        def persisted(name, df):
            frames[name] = df.persist()
            return df

        def write(name):
            back[name] = ck.stage(name, lambda: frames[name])
            return int(ck.log[-1]["rows"])

        def resume():
            again = Checkpointer(ctx.spark, path)
            n = sum(force(again.stage(name, _never)) for name in self.stages)
            if any(e["action"] != "resumed" for e in again.log):
                raise RuntimeError(f"resume recomputed a stage: {again.log}")
            return n

        steps = {
            "doc_explode": lambda: persisted("points", ingest.explode_doc_points(docs)),
            "doc_ck_points": lambda: write("points"),
            "doc_pip": lambda: persisted(
                "spatial_join", joins.point_in_polygon_join(back["points"], [("aoi", DOC_AOI)], res=DOC_RES)),
            "doc_ck_spatial_join": lambda: write("spatial_join"),
            "doc_tile_rollup": lambda: persisted("tiles", joins.tile_rollup(back["points"], res=DOC_RES)),
            "doc_ck_tiles": lambda: write("tiles"),
            "doc_span_invariant": lambda: ingest.span_invariant_violations(docs),
            "doc_resume": resume,
        }
        for op in self.ops:
            ctx.op(op.name, op.metric, steps[op.name], op.collect)
        for df in frames.values():
            df.unpersist()

    def after_pass(self, ctx: PassContext) -> None:
        """Record the checkpoint bytes the pass wrote, then remove them."""
        path = self.ck_dir(ctx.label)
        total = 0
        for d, _, names in os.walk(path):
            total += sum(os.path.getsize(os.path.join(d, n)) for n in names if n.endswith(".parquet"))
        ctx.counts["checkpoint.bytes_written"] = total
        shutil.rmtree(path, ignore_errors=True)

    def check(self, ctx: PassContext, data_dir: str) -> tuple[dict[str, str], dict]:
        try:
            return self._check(ctx, data_dir), {}
        except Exception as e:  # a failing oracle fails every op, not the run
            why = f"check raised {type(e).__name__}: {str(e)[:200]}"
            return {op.name: why for op in self.ops}, {}

    def _check(self, ctx: PassContext, data_dir: str) -> dict[str, str]:
        import duckdb

        from movingspark import cells

        cc = import_tool("check_correctness")
        con = duckdb.connect()
        src = os.path.join(data_dir, self.table)
        con.execute(f"""
            CREATE VIEW doc_pts AS
            SELECT doc_id AS traj_id,
                   CASE WHEN s.kind = 'text' THEN CAST(split_part(s.text, ';', 2) AS DOUBLE) END AS x,
                   CASE WHEN s.kind = 'text' THEN CAST(split_part(s.text, ';', 3) AS DOUBLE) END AS y
            FROM (SELECT doc_id, UNNEST(spans) AS s FROM read_parquet('{src}'))
            WHERE s.kind = 'text'
        """)
        xs = [p[0] for p in DOC_AOI]
        ys = [p[1] for p in DOC_AOI]
        n_pts = con.execute("SELECT COUNT(*) FROM doc_pts").fetchone()[0]
        n_join = con.execute(
            f"SELECT COUNT(*) FROM doc_pts WHERE x >= {min(xs)} AND x <= {max(xs)}"
            f" AND y >= {min(ys)} AND y <= {max(ys)}"
        ).fetchone()[0]
        tiles = con.execute(
            f"SELECT {cells.cell_id_sql('x', 'y', DOC_RES)} AS cell, COUNT(*) AS n_points,"
            " COUNT(DISTINCT traj_id) AS n_trajs FROM doc_pts GROUP BY 1"
        ).df()
        con.close()

        stage_rows = {"points": n_pts, "spatial_join": n_join, "tiles": len(tiles)}
        want_rows = {"doc_span_invariant": 0,
                     "doc_resume": sum(stage_rows[s] for s in self.stages)}
        for stage in self.stages:
            for name in DOC_STAGE_OPS[stage]:
                want_rows[name] = stage_rows[stage]
        problems = {}
        for name, n in want_rows.items():
            if name in ctx.errors:
                problems[name] = ctx.errors[name]
            elif ctx.rows.get(name) != n:
                problems[name] = f"rows spark={ctx.rows.get(name)} duckdb={n}"
        if "doc_tile_rollup" in ctx.outputs and "doc_tile_rollup" not in problems:
            bad = cc.compare("tile_rollup", ctx.outputs["doc_tile_rollup"], tiles)
            if bad:
                problems["doc_tile_rollup"] = "; ".join(bad)
        return problems

    def layer_counts(self, spark, inputs, checked, extra, last_label, data_dir) -> dict:
        from movingspark import cells, ingest

        written = checked.counts.get("checkpoint.bytes_written", 0)
        out = {
            "ingest.points_out": checked.rows.get("doc_explode", 0),
            "checkpoint.bytes_written": written,
            "checkpoint.bytes_per_input_byte": written / os.path.getsize(os.path.join(data_dir, self.table)),
        }
        if "spatial_join" in self.stages:
            pts = ingest.explode_doc_points(inputs["docs"])
            out["joins.pip_candidates"] = pip_candidates(spark, pts, [("aoi", DOC_AOI)], DOC_RES, cells.WORLD)
            out["joins.pip_hits"] = checked.rows.get("doc_pip", 0)
        return out


def _never():
    raise RuntimeError("checkpoint missing on resume")


def make(name: str, work_dir: str):
    if name == "traj_kernels":
        return TrajKernels()
    if name == "spatial_joins":
        return SpatialJoins(work_dir)
    if name == "doc_pipeline":
        return DocPipeline(work_dir)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("traj_kernels", "spatial_joins", "doc_pipeline")
