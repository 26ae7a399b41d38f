# CI targets. The oracle gate runs at TWO scale factors: sf0.01 is the
# driver's correctness gate replica; sf0.1 catches size-dependent
# defects (AQE plan flips, corpus-scaled bucket widths, HLL error
# bounds) that only appear at the larger factor.

.PHONY: test oracles oracles-sf01 bench scaling perfbench perfbench-test all

test:
	python -m pytest tests/ -x -q

oracles:
	python tools/check_oracles.py

oracles-sf01:
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=16 python tools/check_oracles.py

bench:
	python bench.py

scaling:
	python bench.py --scaling

# tail->commit stream benchmark (BENCHMARK.json), both workloads, untraced
perfbench:
	python3 perfbench/run.py --workload cow_reconcile --seed 0 --seconds 15 --trace 0
	python3 perfbench/run.py --workload mor_trickle --seed 0 --seconds 15 --trace 0

perfbench-test:
	python3 -m pytest perfbench/tests

all: test oracles oracles-sf01
