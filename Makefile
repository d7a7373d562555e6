# Convenience entries around the driver contract. The contract itself
# is unchanged: bench.py reads $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS
# and prints one JSON line.

# Default to this machine's cores: bench numbers taken at another core
# count (the local[32] BENCH_r* records) cannot be compared.
CPUS ?= $(shell nproc)
WORKLOADS ?= ingest corpus

.PHONY: test bench bench-sf1 oracle-sweep perfbench

# The tier-1 suite exactly as ROADMAP.md states it.
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	SPARK_GRAFT_CPUS=$(CPUS) python bench.py

# sf1 bench arm (r16, VERDICT r15 #2): the sf0.1 headline numbers sit at
# the local scheduler floor; this runs the SAME bench.py (same queries,
# same methodology, same JSON contract) over the composite sf1 dir so
# corpus-family optimizations are visible. Record the line in
# BASELINE.md each round alongside the sf0.1 artifact.
# SKIP_DUCKDB: the O(n^2)-oracle set (recursive-closure CTEs) costs
# hours per DuckDB pass at 50k docs; the arm measures the Spark side.
# Unset it if you have the DuckDB budget.
bench-sf1:
	python tools/make_bench_sf1.py
	SPARK_GRAFT_CPUS=$(CPUS) SPARK_GRAFT_SF_DIR=$(CURDIR)/.scale_data/bench_sf1 SPARK_GRAFT_SKIP_DUCKDB=1 python bench.py

oracle-sweep:
	SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.1 python -m pytest tests/test_oracle_diff.py -q

# The product benchmark (BENCHMARK.json), one seeded run per workload;
# `make perfbench WORKLOADS=corpus` runs one.
perfbench:
	for w in $(WORKLOADS); do \
		python3 perfbench/run.py --workload $$w --seed 901 --seconds 6 || exit 1; \
	done
