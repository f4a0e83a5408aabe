"""spark-submit entry point.

    spark-submit --py-files sbse.zip sbse/jobs/run_pipeline.py \
        --input /path/tokens_parquet --warehouse /path/warehouse \
        --gap-ms 30000 --checkpoint-parts 8 --run-id run1

Reads a token-shaped parquet table (or synthesizes --synth-rows), runs the
full pipeline under per-partition checkpointing, writes tier tables +
manifests to the warehouse. Resume = rerun with the same --run-id.
"""

from __future__ import annotations

import argparse
import os
import sys

# Running as a plain script (spark-submit sbse/jobs/run_pipeline.py) puts the
# script dir on sys.path, not the repo root; --py-files covers executors but
# the driver needs this.
_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None, help="token parquet path")
    p.add_argument("--synth-rows", type=int, default=0)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--gap-ms", type=int, default=30_000)
    p.add_argument("--checkpoint-parts", type=int, default=8)
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    args = p.parse_args(argv)

    from sbse.checkpoint import run_partitioned
    from sbse.pipeline import run_pipeline
    from sbse.session import get_spark
    from sbse.tokens import synth

    spark = get_spark(master=args.master,
                      shuffle_partitions=args.shuffle_partitions,
                      app_name="sbse-pipeline")
    if args.input:
        tok = spark.read.parquet(args.input)
    elif args.synth_rows:
        tok = synth(spark, args.synth_rows)
    else:
        raise SystemExit("need --input or --synth-rows")

    def pipe(subset):
        out = run_pipeline(subset, gap_ms=args.gap_ms)
        # persist the analytic tables; 'decoded' stays an intermediate
        return {k: v for k, v in out.items() if k != "decoded"}

    summary = run_partitioned(tok, pipe, args.warehouse, args.run_id,
                              n_parts=args.checkpoint_parts)
    print({"run_id": args.run_id, "partitions": summary})


if __name__ == "__main__":
    main()
