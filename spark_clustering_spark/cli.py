"""Drop-in CLI mirroring the reference's spark-submit interfaces.

The reference runs (README.md:63,75,90):
  spark-submit --class edu.nchu.app.kmeans <jar> <csv> <iters> <k> <out> <runs>
  spark-submit --class edu.nchu.app.gka    <jar> <csv> <iters> <k> <out> <runs> <pop> <Pm> <Cm>
  spark-submit --class edu.nchu.app.pso    <jar> <csv> <iters> <k> <out> <runs> <p> <c1> <c2> <w_max> <w_min>

This engine accepts the same positionals (R22, kmeans.java:42-47 /
gka.java:49-57 / pso.java:56-66):

  python -m spark_clustering_spark kmeans <csv> <iters> <k> <out> <runs>
  python -m spark_clustering_spark gka    <csv> <iters> <k> <out> <runs> [pop Pm Cm]
  python -m spark_clustering_spark pso    <csv> <iters> <k> <out> <runs> [p c1 c2 w_max w_min]

and writes the reference's metrics sink (R20, kmeans.java:261-270):
one CSV line ``iter,best_objectvalue,iter_ms`` per iteration and a
trailing ``<total>ms`` line. Differences by design (SURVEY.md §2C):
seeded determinism (append ``--seed N``), correct empty-cluster reseed,
canonical PSO inertia (``--reference-compat`` restores the Q2 overwrite
behavior).
"""

from __future__ import annotations

import argparse
import sys
import time


def _load_points(spark, path):
    from spark_clustering_spark.sources.csv_numeric import read_numeric_csv

    return read_numeric_csv(spark, path).selectExpr(
        "id AS vec_id", "features AS vec"
    )


def _sorted_rows(metrics, *keys: str) -> list:
    """The fit's metrics rows in sink order. The metrics frame is a few
    driver-built rows, so it is collected and sorted here: a Spark
    ``orderBy`` would run a sample job and a sort job for them."""
    return sorted(metrics.collect(), key=lambda r: tuple(r[k] for k in keys))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="spark_clustering_spark")
    ap.add_argument("algo", choices=["kmeans", "gka", "pso"])
    ap.add_argument("csv_path")
    ap.add_argument("num_iter", type=int)
    ap.add_argument("k", type=int)
    ap.add_argument("out_path")
    ap.add_argument("num_run", type=int, nargs="?", default=1)
    ap.add_argument("extra", nargs="*", type=float, help="algo-specific params")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--reference-compat", action="store_true")
    args = ap.parse_args(argv)

    from spark_clustering_spark.session import get_spark

    spark = get_spark(f"scs-{args.algo}")
    points = _load_points(spark, args.csv_path)
    t0 = time.time()

    lines: list[str] = []
    if args.algo == "kmeans":
        from spark_clustering_spark.ml.kmeans import fit_kmeans

        res = fit_kmeans(
            spark, points, k=args.k, num_iter=args.num_iter,
            num_run=args.num_run, seed=args.seed,
        )
        for r in _sorted_rows(res.metrics, "run", "iter"):
            lines.append(f"{r['iter']},{r['best_objectvalue']},{r['iter_ms']}")
    elif args.algo == "gka":
        pop, pm, cm = (list(args.extra) + [20, 0.6, 0.9])[:3]
        from spark_clustering_spark.ml.gka import fit_gka

        res = fit_gka(
            spark, points, k=args.k, pop=int(pop), num_gen=args.num_iter,
            pm=pm, cm=cm, seed=args.seed,
        )
        for r in _sorted_rows(res.metrics, "gen"):
            lines.append(f"{r['gen']},{r['best_objectvalue']},{r['gen_ms']}")
    else:
        p, c1, c2, w_max, w_min = (list(args.extra) + [20, 2.0, 2.0, 0.9, 0.4])[:5]
        from spark_clustering_spark.ml.pso import fit_pso

        res = fit_pso(
            spark, points, k=args.k, num_particles=int(p),
            num_iter=args.num_iter, c1=c1, c2=c2, w_max=w_max, w_min=w_min,
            seed=args.seed, reference_compat=args.reference_compat,
        )
        for r in _sorted_rows(res.metrics, "iter"):
            lines.append(f"{r['iter']},{r['best_objectvalue']},{r['iter_ms']}")

    lines.append(f"{int((time.time() - t0) * 1000)}ms")
    with open(args.out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {args.out_path}: best={res.best_objective:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
