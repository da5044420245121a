"""Measure the music streaming job's per-batch state-read volume vs total state.

``MusicIncrementalJob`` claims per-batch cost **O(dirty blocks), not O(total
state)** (exact pruning via the rep_blocks posting list + the dirty-label
carryover — see the module docstring). This harness measures it: a
deterministic synthetic music-like corpus arrives as one bulk wave followed
by small increment waves confined to a few blocking labels; with
``track_scans=True`` every pruned state read counts the rows it actually
resolved. If pruning is real, increment batches read a few hundred state
rows out of tens of thousands — and the read volume tracks the increment's
dirty-block footprint, not the table size.

Usage: python scripts/music_state_scaling.py [n_bulk] [n_waves] [n_inc]
Prints one JSON line:
  {"bulk": N, "per_batch": [{"rows_in": ..., "wall_s": ..., "read_rows": ...,
   "state_reps": ...}, ...]}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapping_analysis_spark.session import get_spark  # noqa: E402
from mapping_analysis_spark.streaming.wave_job import MusicIncrementalJob  # noqa: E402


def _label4(blk: int) -> str:
    """Unique 4-letter blocking prefix (base-26) — exactly the 4 chars
    ``music_blocking_label`` keeps, so block identity survives truncation
    (a numeric f"b{blk}" collides above 999: "b1234"[:4] == "b123")."""
    out = []
    for _ in range(4):
        out.append(chr(97 + blk % 26))
        blk //= 26
    return "".join(out)


def _bulk_rows(n: int):
    """n singleton records spread over n/20 four-char blocking labels;
    hex-noise titles so in-block pairs stay far below the merge
    threshold."""
    rows = []
    for i in range(n):
        blk = i % (n // 20)
        ata = f"{_label4(blk)} {i * 2654435761 % 2**32:08x} {i * 40503 % 65536:04x}"
        rows.append((i, ata, 1 << (i % 5)))
    return rows


def _inc_rows(wave: int, n_inc: int, n_bulk: int):
    """Increment wave confined to ``n_inc // 4`` blocks: half the rows are
    cross-source exact duplicates of bulk records (must merge), half fresh
    singletons in the same blocks."""
    rows = []
    base = 10_000_000 + wave * 100_000
    for j in range(n_inc):
        # duplicate an existing bulk record's ATA → a merge in its block
        tgt = (wave * 7919 + j * 104729) % n_bulk
        blk = tgt % (n_bulk // 20)
        if j % 2 == 0:
            ata = f"{_label4(blk)} {tgt * 2654435761 % 2**32:08x} {tgt * 40503 % 65536:04x}"
        else:
            ata = f"{_label4(blk)} {base + j:08x} fresh {j * 48271 % 65536:04x}"
        rows.append((base + j, ata, 1 << ((tgt + 1) % 5)))
    return rows


def main() -> None:
    n_bulk = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000
    n_waves = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n_inc = int(sys.argv[3]) if len(sys.argv) > 3 else 400
    spark = get_spark(
        "music-state-scaling", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    )
    tmp = tempfile.mkdtemp(prefix="music_state_")
    try:
        job = MusicIncrementalJob(spark, os.path.join(tmp, "state"), track_scans=True)
        schema = "rid long, ata string, smask long"
        waves = [spark.createDataFrame(_bulk_rows(n_bulk), schema)] + [
            spark.createDataFrame(_inc_rows(w, n_inc, n_bulk), schema)
            for w in range(1, n_waves + 1)
        ]
        out = []
        for bid, wave in enumerate(waves):
            for st in job._tables:
                st.reset_scan_stats()
            t0 = time.time()
            job.process_batch(wave, bid)
            wall = time.time() - t0
            per_table = {
                st.root.rsplit("/", 1)[-1]: dict(st.scan_stats)
                for st in job._tables
            }
            read_rows = sum(s["read_rows"] for s in per_table.values())
            reps = job.reps.read()
            out.append(
                {
                    "rows_in": wave.count(),
                    "wall_s": round(wall, 2),
                    "read_rows": int(read_rows),
                    "state_reps": int(reps.count()) if reps is not None else 0,
                    "per_table": per_table,
                }
            )
        print(json.dumps({"bulk": n_bulk, "per_batch": out}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
