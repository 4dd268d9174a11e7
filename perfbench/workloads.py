"""The benchmark's workloads and their output checks.

``mead_ref`` runs ``run.run()`` on the reference's 11-node MEAD graph over a
clip tree made from the seed. ``query_mix`` builds and executes the 29
``bench.R1_KEYS`` queries through the ``noop`` sink. Both follow one
protocol: session start, an untimed warm-up pass, then timed passes until the
run's seconds are spent. In a traced run every second timed pass is traced.
"""

from __future__ import annotations

import gc
import hashlib
import importlib
import os
import random
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from layers import PKG, StatusStore, Tracer, _tree_size

HERE = os.path.dirname(os.path.abspath(__file__))
GRAPHS = os.path.join(HERE, "graphs")
SF_DIR = os.path.join(HERE, "data", "sf0.01")

# Model key of each batched_inference node in the MEAD graph -> its table.
MODEL_TABLES = {
    "fake_audio_codec": "wav",
    "wav2vec": "wav2vec_volume",
    "face_alignment": "landmarks",
    "crop_resize": "crops",
    "emoca": "emoca_codes",
    "flame": "flame_out",
    "renderer": "renders",
    "a2en_pack": "a2en",
}
PER_CLIP_TABLES = ("wav", "wav2vec_volume", "a2en")
TABLES = (
    "images", "wav", "wav2vec_volume", "landmarks", "bboxes", "crops",
    "emoca_codes", "flame_out", "renders", "a2en", "vid2vid",
)
DIGEST_TABLES = ("a2en", "vid2vid")

# Input sizes per workload; ``tiny`` is the smoke-test size.
# ``passes`` is the least number of timed passes of a plain run.
SIZES = {
    "mead_ref": {
        "full": {"clips": 1, "frames": 2, "graph": "mead_a2en_vid2vid.json", "passes": 2},
        "tiny": {"clips": 1, "frames": 2, "graph": "mead_a2en_vid2vid_s32.json", "passes": 1},
    },
    "query_mix": {"full": {"queries": 29, "passes": 1}, "tiny": {"queries": 3, "passes": 1}},
}

LAYER_ZEROS = (
    "sources.scan_s", "sources.files", "sources.bytes", "plans.build_s",
    "run.write_s", "run.bytes_written", "run.bytes_per_input_byte",
    "queries.build_s", "queries.exec_s", "queries.build_frac",
    *(f"run.{t}.write_s" for t in TABLES),
)


@dataclass
class Run:
    spark: object
    work: str
    cores: int
    seconds: float
    trace: bool
    tracer: Tracer
    status: StatusStore
    passes: list[dict] = field(default_factory=list)


def _quantile(values: list[float], q: int) -> float:
    """The q-th percentile, as ``statistics.quantiles(n=100)`` gives it."""
    return statistics.quantiles(values, n=100)[q - 1]


def _inference_layers(before: dict, after: dict, useful_rows: int) -> dict:
    out = {}
    calls = rows = 0
    secs = 0.0
    for key in MODEL_TABLES:
        b = before.get(key, (0, 0, 0.0))
        a = after.get(key, (0, 0, 0.0))
        d = [a[i] - b[i] for i in range(3)]
        out[f"inference.{key}.calls"] = d[0]
        out[f"inference.{key}.rows"] = d[1]
        out[f"inference.{key}.s"] = d[2]
    for key, a in after.items():
        b = before.get(key, (0, 0, 0.0))
        calls += a[0] - b[0]
        rows += a[1] - b[1]
        secs += a[2] - b[2]
    out["inference.batch_calls"] = calls
    out["inference.rows_in"] = rows
    out["inference.udf_s"] = secs
    out["inference.useful_row_frac"] = useful_rows / rows if rows else 0.0
    return out


def timed_passes(run: Run, passes: int, one_pass) -> None:
    """Timed passes until ``run.seconds`` are spent: a pass starts only if
    the previous one would still fit. At least ``passes`` run, and at least
    two in a traced run (plain and traced passes alternate)."""
    min_passes = max(passes, 2) if run.trace else passes
    t_start = time.perf_counter()
    while len(run.passes) < min_passes or (
        time.perf_counter() - t_start + run.passes[-1]["wall_s"] <= run.seconds
    ):
        traced = run.trace and len(run.passes) % 2 == 1
        k = len(run.passes) + 1
        if not traced:
            rec = one_pass(k, nullcontext)
            rec["traced"] = False
        else:
            mark = run.status.mark()
            span0 = len(run.tracer.spans)
            inf0 = run.tracer.inference_totals()
            files0, bytes0 = run.tracer.input_files, run.tracer.input_bytes
            with run.tracer.patched():
                rec = one_pass(k, run.tracer.span)
            layers = run.status.since(mark, rec["wall_s"], run.cores)
            in_files = run.tracer.input_files - files0
            in_bytes = run.tracer.input_bytes - bytes0
            layers.update(
                {
                    "sources.scan_s": run.tracer.span_s("run.bind_input", span0),
                    "sources.files": in_files,
                    "sources.bytes": in_bytes,
                    "plans.build_s": run.tracer.span_s("plans.run_reference_graph", span0),
                }
            )
            layers.update(
                _inference_layers(
                    inf0, run.tracer.inference_totals(), rec.get("useful_rows", 0)
                )
            )
            layers.update(rec.pop("layers", {}))
            if "run.bytes_written" in layers and in_bytes:
                layers["run.bytes_per_input_byte"] = layers["run.bytes_written"] / in_bytes
            rec["traced"] = True
            rec["layers"] = layers
        run.passes.append(rec)


def per_layer(run: Run, session_s: float) -> dict:
    traced = [p for p in run.passes if p["traced"]]
    plain = [p["wall_s"] for p in run.passes if not p["traced"]]
    out = dict.fromkeys(LAYER_ZEROS, 0)
    for name in traced[0]["layers"]:
        out[name] = statistics.median(p["layers"][name] for p in traced)
    out["session.start_s"] = session_s
    out["trace.overhead_frac"] = (
        statistics.median(p["wall_s"] for p in traced) / statistics.median(plain) - 1.0
    )
    return out


def end_to_end(run: Run, setup_s: float) -> dict:
    """run_s is the median pass; the per-action figures treat each timed
    Spark action of a pass (a table write, or one query's build and
    execution) as one query."""
    plain = [p for p in run.passes if not p["traced"]]
    per_key: dict[str, list[float]] = {}
    for p in plain:
        for key, sec in p["actions"]:
            per_key.setdefault(key, []).append(sec)
    every = [s for secs in per_key.values() for s in secs]
    return {
        "setup_s": setup_s,
        "run_s": statistics.median(p["wall_s"] for p in plain),
        "query_total_s": sum(statistics.median(v) for v in per_key.values()),
        "query_p50_s": statistics.median(every),
        "query_p90_s": _quantile(every, 90),
    }


# --------------------------------------------------------------- mead_ref


def make_clips(root: str, seed: int, clips: int, frames: int) -> None:
    """md5 payloads (the ``synthetic_clips`` recipe), one file per clip."""
    from talkinghead_datapipeline_spark.plans.reference_compat import FRAME_BYTES

    size = frames * FRAME_BYTES
    for i in range(clips):
        rel = os.path.join(f"actor{i % 4:02d}", f"clip{i:03d}.mp4")
        payload = hashlib.md5(f"{seed}/{rel}".encode()).digest()
        os.makedirs(os.path.join(root, os.path.dirname(rel)), exist_ok=True)
        with open(os.path.join(root, rel), "wb") as f:
            f.write((payload * (size // len(payload) + 1))[:size])


def _digest(spark, path: str) -> str:
    """Order-insensitive digest of a parquet table."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    rows = df.select(F.xxhash64(*sorted(df.columns)).alias("h")).collect()
    return hashlib.md5(repr(sorted(r.h for r in rows)).encode()).hexdigest()


def mead_ref(run: Run, seed: int, size: dict) -> dict:
    clips, frames = size["clips"], size["frames"]
    clip_dir = os.path.join(run.work, "clips")
    make_clips(clip_dir, seed, clips, frames)
    graph = os.path.join(GRAPHS, size["graph"])
    expected = {t: clips if t in PER_CLIP_TABLES else clips * frames for t in TABLES}
    run_mod = importlib.import_module(f"{PKG}.run")
    outputs: list[tuple[str, list[dict]]] = []

    def one_pass(k: int, span) -> dict:
        out_dir = os.path.join(run.work, "out", f"pass{k}")
        t0 = time.perf_counter()
        report = run_mod.run(run.spark, graph, {"video": clip_dir}, out_dir)
        wall = time.perf_counter() - t0
        outputs.append((out_dir, report))
        written = {e["name"]: e["sec"] for e in report if e["status"] == "written"}
        rec = {
            "wall_s": wall,
            "actions": sorted(written.items()),
            "useful_rows": sum(expected[t] for t in MODEL_TABLES.values()),
            "layers": {
                "run.write_s": sum(written.values()),
                "run.bytes_written": _tree_size(out_dir)[1],
                **{f"run.{t}.write_s": written.get(t, 0.0) for t in TABLES},
            },
        }
        return rec

    one_pass(0, nullcontext)  # warm-up
    setup_done = time.perf_counter()
    timed_passes(run, size["passes"], one_pass)

    def checks() -> dict:
        attempted = failed = 0
        digests: dict[str, set[str]] = {t: set() for t in DIGEST_TABLES}
        for out_dir, report in outputs:
            got = {e["name"]: e["total"] for e in report if e["status"] == "written"}
            for table, n in expected.items():
                attempted += n
                failed += abs(n - got.get(table, 0))
            for table in DIGEST_TABLES:
                digests[table].add(_digest(run.spark, os.path.join(out_dir, f"{table}.parquet")))
        return {
            "attempted": attempted,
            "failed": min(failed, attempted),
            "digests_agree": all(len(d) == 1 for d in digests.values()),
            "expected_rows": expected,
            "passes_checked": len(outputs),
        }

    return {"setup_done": setup_done, "checks": checks}


# -------------------------------------------------------------- query_mix


def query_mix(run: Run, seed: int, size: dict) -> dict:
    from bench import R1_KEYS
    from oracle_harness import run_compare
    from talkinghead_datapipeline_spark.queries import all_queries

    specs = all_queries()
    order = list(R1_KEYS[: size["queries"]])
    random.Random(seed).shuffle(order)
    failed: dict[str, str] = {}

    def untimed_gap() -> None:
        run.spark.catalog.clearCache()
        gc.collect()

    # Warm-up and check in one: each query's first execution is its
    # oracle compare against DuckDB.
    for name in order:
        try:
            res = run_compare(run.spark, SF_DIR, name, specs[name].spark, specs[name].oracle)
            if not res.ok:
                failed[name] = str(res)
        except Exception as exc:  # noqa: BLE001 - a failure is a result here
            failed[name] = f"{type(exc).__name__}: {exc}"[:300]
        untimed_gap()

    def one_pass(_k: int, span) -> dict:
        actions = []
        build_s = exec_s = 0.0
        t_pass = time.perf_counter()
        for name in order:
            try:
                t0 = time.perf_counter()
                with span("queries.build"):
                    df = specs[name].spark(run.spark, SF_DIR)
                t1 = time.perf_counter()
                with span("queries.exec"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                actions.append((name, t2 - t0))
                build_s += t1 - t0
                exec_s += t2 - t1
            except Exception as exc:  # noqa: BLE001
                failed.setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
            untimed_gap()
        return {
            "wall_s": time.perf_counter() - t_pass,
            "actions": actions,
            "layers": {
                "queries.build_s": build_s,
                "queries.exec_s": exec_s,
                "queries.build_frac": build_s / (build_s + exec_s),
            },
        }

    setup_done = time.perf_counter()
    timed_passes(run, size["passes"], one_pass)

    def checks() -> dict:
        return {
            "attempted": len(order),
            "failed": len(failed),
            "digests_agree": True,
            "failures": failed,
        }

    return {"setup_done": setup_done, "checks": checks}


WORKLOADS = {"mead_ref": mead_ref, "query_mix": query_mix}
