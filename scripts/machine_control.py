"""Spark-free machine control for the scaling-efficiency evidence.

Runs the SAME per-image verify workload the frontier drain spends its time
in (fake-codec decode + integer-MSE PSNR + phash, functions/images.py
verify_batch) under plain multiprocessing at N and 4N worker processes —
no JVM, no shuffle, no parquet. The N→4N efficiency of THIS program is the
ceiling the VM's memory bandwidth + host CPU steal impose on ANY 4×
parallelism claim made on this box; the Spark engine cannot be expected to
exceed it. Print one JSON line; pair it with scripts/scaling_bench.py
output taken in the same time window.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_v] = "1"

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_IMAGES_PER_WORKER = int(os.environ.get("CONTROL_IMAGES", "12000"))
BATCH = 2000


def _worker(worker_id: int, n_images: int, barrier, out_q) -> None:
    import numpy as np

    from distributed_web_crawler_spark.fixtures import corpus as C
    from distributed_web_crawler_spark.functions.images import verify_batch

    spec = C.CorpusSpec(n=2_000_000)
    base = (worker_id * 7_919) % 1_000_000
    idx = np.array([base + 3 * k for k in range(n_images)])
    payloads = [C.encode_image(C.raw_pixels(i, spec), C.fmt_of(i)) for i in idx]
    fmts = np.array([C.fmt_of(i) for i in idx])
    caps = np.array([C.caption_of(i, spec) for i in idx])
    ph = np.array([C.phash64(C.decode_image(p)[0]) for p in payloads])
    barrier.wait()  # all workers start the timed section together
    t0 = time.monotonic()
    ok = 0
    for s in range(0, n_images, BATCH):
        sl = slice(s, s + BATCH)
        out = verify_batch(idx[sl], payloads[sl], fmts[sl], caps[sl], ph[sl], spec)
        ok += int(np.asarray(out["pixels_ok"]).sum())
    dt = time.monotonic() - t0
    assert ok == n_images, (worker_id, ok, n_images)
    out_q.put((worker_id, dt))


def run_level(n_workers: int) -> dict:
    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(n_workers)
    q = ctx.Queue()
    ps = [
        ctx.Process(target=_worker, args=(w, N_IMAGES_PER_WORKER, barrier, q))
        for w in range(n_workers)
    ]
    for p in ps:
        p.start()
    times = [q.get(timeout=900) for _ in ps]
    for p in ps:
        p.join(timeout=900)
    wall = max(dt for _, dt in times)  # level throughput = total work / slowest
    total = n_workers * N_IMAGES_PER_WORKER
    return {
        "workers": n_workers,
        "images": total,
        "wall_sec": round(wall, 2),
        "img_per_sec": round(total / wall, 1),
    }


def main() -> None:
    n = int(os.environ.get("CONTROL_N", "8"))
    r_n = run_level(n)
    r_4n = run_level(4 * n)
    eff = (r_4n["img_per_sec"] / r_n["img_per_sec"]) / 4.0
    print(
        json.dumps(
            {
                "control": "spark-free multiprocessing verify_batch",
                "n": r_n,
                "four_n": r_4n,
                "machine_ceiling_efficiency": round(eff, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
