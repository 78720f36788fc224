"""Benchmark of the KG-construction and incremental-ingest paths.

    python3 perfbench/run.py --workload kg_fresh --seed 1 --seconds 12 --trace 0

Starts one `local[4]` Spark session, warms it up, generates the workload's
inputs from `--seed`, then runs ops in a closed loop (one client; the next op
starts only after the previous one finished and its output was checked) for
`--seconds`.  The last line of stdout is one JSON object:

* `--trace 0`: the end-to-end metrics (medians over the run's ops);
* `--trace 1`: the per-layer metrics.  Untraced and traced ops alternate,
  the first traced op is followed by staged replays of each layer, and the
  spans are written to `.perfbench/traces/` when the run ends.

The lines before it are the run's report: host and settings, every metric
by name with its unit, and the output checks.  See perfbench/README.md.
"""

import time

T_START = time.monotonic()

import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    try:
        import ontology_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        sys.exit(2)
    from perfbench.harness import main

    sys.exit(main(T_START))
