"""The repository's benchmark: seeded ``search`` and ``curate``
workloads that drive ``tidyvec_spark`` through its public
functions. See README.md in this directory; run with
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>``."""
