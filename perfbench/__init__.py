"""ubx benchmark: closed-loop workloads over the registered entries of ``__spark_entry__``.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root. See ``perfbench/run.py``.
"""
