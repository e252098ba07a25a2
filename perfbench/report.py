"""Metric assembly: end-to-end metrics from a timed phase, per-layer
metrics from a traced phase's spans and the L0 kernel timings."""

import math
import statistics
import time

import numpy as np

from perfbench.tracing import module_of

# modules whose spans get self_share / jobs / tasks / shuffle_write_bytes
MODULES = (
    "operators.spatial", "operators.layout", "operators.knn",
    "operators.polygons", "operators.tiles", "operators.similarity",
    "operators.dedup", "streaming.density", "session",
)


def tail_percentile(n):
    """The highest whole percentile with at least ten samples beyond it, or
    None when there are too few samples for any."""
    if n < 11:
        return None
    return int(math.floor(100.0 * (1.0 - 10.0 / n)))


def end_to_end(ops):
    """End-to-end metrics of a timed phase's successful ops, and the printed
    extras: the tail and, for a mix of request types, each type's median."""
    ops = [o for o in ops if o.error is None]
    if not ops:
        raise RuntimeError("every operation failed")
    lat = [o.latency_s for o in ops]
    busy = sum(lat)
    out = {
        "rows_per_s": sum(o.rows for o in ops) / busy,
        "op_p50_s": statistics.median(lat),
    }
    extra = {"ops": len(ops)}
    p = tail_percentile(len(lat))
    if p is not None:
        extra["op_tail_s"] = float(np.percentile(lat, p))
        extra["op_tail_percentile"] = f"p{p}"
    kinds = sorted({o.kind for o in ops})
    if len(kinds) > 1:
        extra["kinds"] = {
            k: [o.latency_s for o in ops if o.kind == k] for k in kinds
        }
    return out, extra


# --- L0 ------------------------------------------------------------------------


def _best_of(fn, reps):
    best = math.inf
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def l0_kernels(lon, lat, resolution, requests, index_res=9):
    """Single-threaded L0 timings on the workload's own inputs, best of N
    (the first call on fresh memory pays page faults)."""
    from a5spark.kernels.cell import lonlat_to_cell
    from a5spark.kernels.polyfill import polygon_to_cells
    from a5spark.kernels.serialization import cell_to_parent
    from a5spark.kernels.traversal import estimate_cell_radius, spherical_cap_batch
    from a5spark.operators.knn import pick_cover_resolution

    n = min(len(lon), 100_000)
    enc = _best_of(lambda: lonlat_to_cell(lon[:n], lat[:n], resolution), 3)
    cover = [
        _best_of(lambda p=p: polygon_to_cells([p["ring"]], 6), 2)
        for p in requests["polygons"]
    ]
    caps = []
    for req in requests["caps"]:
        # the cap radius_join asks the traversal kernel for: query cells'
        # parents at the cover resolution, radius widened by the cell margins
        r = req["radius_m"]
        cov_res = pick_cover_resolution(r, index_res)
        cap_r = r + estimate_cell_radius(index_res) + 2.0 * estimate_cell_radius(cov_res)
        q = np.array(req["queries"])
        cells = np.unique(cell_to_parent(lonlat_to_cell(q[:, 0], q[:, 1], index_res), cov_res))
        caps.append(_best_of(lambda c=cells, cr=cap_r: spherical_cap_batch(c, cr), 2))
    return {
        "kernels.cell.encode_rows_per_s": n / enc,
        "kernels.polyfill.cover_s": statistics.median(cover),
        "kernels.traversal.cap_s": statistics.median(caps),
    }


# --- per layer -----------------------------------------------------------------


def _ratio(a, b):
    return a / b if b else 0.0


def per_layer(spans, n_ops, l0, stream_progress, untraced, traced):
    """Per-layer metrics of one traced phase. Counters are per operation
    (divided by the phase's op count); ratios carry their own base and read
    0 when the base is 0 (the layer did no work on this workload)."""
    ops = [s for s in spans if s["parent"] is None]
    op_wall = sum(s["wall_s"] for s in ops)
    m = dict(l0)

    def total(key, pred):
        return sum(s["counters"][key] for s in spans if pred(s))

    everything = lambda s: True  # noqa: E731
    m["functions.python_run_s"] = total("python_run_s", everything) / n_ops
    m["functions.bytes_to_python"] = total("bytes_to_python", everything) / n_ops
    m["functions.bytes_from_python"] = total("bytes_from_python", everything) / n_ops
    assign = [s for s in spans if s["name"] == "operators.spatial.assign_cells"]
    enc_rows = sum(s["attrs"].get("rows_in", 0) for s in assign)
    enc_run = sum(s["counters"]["executor_run_s"] for s in assign)
    m["functions.rows_per_core_s"] = _ratio(enc_rows, enc_run)
    m["functions.l1_over_l0"] = _ratio(
        m["functions.rows_per_core_s"], l0["kernels.cell.encode_rows_per_s"]
    )
    for mod in MODULES:
        mine = [s for s in spans if module_of(s["name"]) == mod]
        m[f"{mod}.self_share"] = 100.0 * _ratio(sum(s["self_s"] for s in mine), op_wall)
        for key in ("jobs", "tasks", "shuffle_write_bytes"):
            m[f"{mod}.{key}"] = sum(s["counters"][key] for s in mine) / n_ops

    def named(name):
        return [s for s in spans if s["name"] == name]

    m["operators.layout.files_written"] = sum(
        s["attrs"].get("files_written", 0) for s in named("operators.layout.write_cell_layout")
    ) / n_ops
    scans = named("operators.layout.scan_cell_layout")
    m["operators.layout.scan_cell_layout.files_selected_ratio"] = _ratio(
        sum(s["attrs"]["files_selected"] for s in scans),
        sum(s["attrs"]["files_total"] for s in scans),
    )
    m["operators.layout.scan_cell_layout.rows_useful_ratio"] = _ratio(
        sum(s["attrs"]["rows_out"] for s in scans),
        sum(s["attrs"]["rows_in_selected_files"] for s in scans),
    )
    cand = sum(s["attrs"]["rows_out"] for s in named("operators.polygons.point_in_polygon_join"))
    hits = sum(s["attrs"]["rows_out"] for s in named("operators.polygons.pip_refine"))
    n_pip = len(named("operators.polygons.pip_refine"))
    m["operators.polygons.pip_refine.candidates"] = _ratio(cand, n_pip)
    m["operators.polygons.pip_refine.true_hit_ratio"] = _ratio(hits, cand)
    knn = named("operators.knn.knn_join")
    m["operators.knn.knn_join.jobs"] = _ratio(sum(s["counters"]["jobs"] for s in knn), len(knn))
    m["operators.knn.knn_join.shuffled_rows_per_result"] = _ratio(
        sum(s["counters"]["shuffle_write_records"] for s in knn),
        sum(s["attrs"]["rows_out"] for s in knn),
    )
    prog = list(stream_progress)
    trig = sum(p["durationMs"].get("triggerExecution", 0) for p in prog)
    for key, name in (("addBatch", "add_batch"), ("queryPlanning", "query_planning"),
                      ("walCommit", "wal_commit")):
        m[f"streaming.density.{name}_share"] = 100.0 * _ratio(
            sum(p["durationMs"].get(key, 0) for p in prog), trig
        )
    data_batches = [p for p in prog if p["numInputRows"] > 0]
    m["streaming.density.state_rows"] = (
        data_batches[-1]["stateOperators"][0]["numRowsTotal"] if data_batches else 0
    )
    batches = named("streaming.density.micro_batch")
    m["streaming.density.tasks_per_batch"] = _ratio(
        sum(s["counters"]["tasks"] for s in batches), len(batches)
    )
    sim_c = sum(s["attrs"].get("candidates", 0) for s in named("operators.similarity.neardup_candidate_pairs"))
    sim_v = sum(s["attrs"]["rows_out"] for s in named("operators.similarity.cosine_neardup_pairs"))
    m["operators.similarity.candidate_pairs"] = sim_c / n_ops
    m["operators.similarity.verified_pair_ratio"] = _ratio(sim_v, sim_c)
    ded_c = sum(s["attrs"]["rows_out"] for s in named("operators.dedup.lsh_candidate_pairs"))
    ded_v = sum(s["attrs"].get("verified", 0) for s in named("operators.dedup.jaccard_pairs"))
    m["operators.dedup.candidate_pairs"] = ded_c / n_ops
    m["operators.dedup.verified_pair_ratio"] = _ratio(ded_v, ded_c)
    m["session.driver_gap_s"] = sum(s["driver_gap_s"] for s in ops) / n_ops
    m["trace.overhead_op_p50_s"] = traced["op_p50_s"] - untraced["op_p50_s"]
    return m
