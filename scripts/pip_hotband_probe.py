#!/usr/bin/env python
"""Hot-cell PIP refine probe (VERDICT r4 next-round #5): a GENERIC
(non-axis-rect) region whose boundary cuts straight through the Paris hot
cluster, so the thin-band numpy refine tier receives the densest cells in
the corpus.  Control: the same polygon translated to a quiet area.

What this checks: the tier-3 refine inherits the big side's partitioning
(broadcast equi-join → no shuffle), so hot-band rows should stay spread
across page partitions — the wall should scale with refine-row count, not
collapse into one task.

Usage: python scripts/pip_hotband_probe.py [--repl 200] [--cpus N]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repl", type=int, default=200)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1)))
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    import statistics

    import __spark_entry__ as entry
    from datacube_core_spark.frames import local_frame
    from datacube_core_spark.geom.polygon import pack_multipolygon
    from datacube_core_spark.operators.pip import PipIndex
    from datacube_core_spark.session import get_spark
    from datacube_core_spark.sources.pages import pages

    spark = get_spark(
        app_name="pip-hotband-probe",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    G = entry._G

    p = (
        pages(spark, args.sf_dir, repl=args.repl)
        .select("doc_id", "lon", "lat")
        .localCheckpoint(eager=True)  # isolate join cost from page synthesis
    )

    def diag_region(rid, cx, cy):
        """Irregular quadrilateral centered near (cx, cy): its diagonal
        edges cross the half-degree hot box at (cx, cy)..(cx+.5, cy+.5)."""
        ring = np.array(
            [
                (cx - 1.0, cy - 1.2),
                (cx + 1.6, cy - 0.9),
                (cx + 1.4, cy + 1.5),
                (cx - 0.8, cy + 1.3),
            ],
            dtype=float,
        )
        mp = [[ring]]
        l, b = ring[:, 0].min(), ring[:, 1].min()
        r, t = ring[:, 0].max(), ring[:, 1].max()
        return (rid, f"probe{rid}", float(l), float(b), float(r), float(t),
                bytearray(pack_multipolygon(mp)))

    schema = ("region_id INT, name STRING, left DOUBLE, bottom DOUBLE, "
              "right DOUBLE, top DOUBLE, geom BINARY")

    def timed_join(rows):
        rdf = local_frame(spark, rows, schema)
        idx = PipIndex(spark, rdf, G)
        out = idx.join(p, keep_cols=["doc_id"])
        n = out.count()  # warm-up / build
        xs = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            out = PipIndex(spark, rdf, G).join(p, keep_cols=["doc_id"])
            out.count()
            xs.append(time.perf_counter() - t0)
        return round(statistics.median(xs), 2), n

    with open("/proc/loadavg") as fh:
        load = fh.read().split()[0]

    # Paris hot box: lon [2.0, 2.5), lat [48.0, 48.5)
    hot_s, hot_n = timed_join([diag_region(0, 2.0, 48.0)])
    # quiet control: same shape over background-density ocean-ish area
    ctl_s, ctl_n = timed_join([diag_region(0, 60.0, 10.0)])

    print(json.dumps({
        "probe": "pip_hotband",
        "sf_dir": args.sf_dir,
        "repl": args.repl,
        "cpus": args.cpus,
        "pages": p.count(),
        "loadavg_at_start": load,
        "hot_band_s": hot_s,
        "hot_matched": hot_n,
        "control_s": ctl_s,
        "control_matched": ctl_n,
        "ratio": round(hot_s / ctl_s, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
