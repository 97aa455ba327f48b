"""Stream-join benchmark: replay throughput, live join/timeout latency and
the batch-twin control, every output checked against DuckDB.

Run ``python3 joinbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``run.py``.
"""
