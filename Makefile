# CI-analog for this repo (the reference runs a 2-OS × 2-config GitHub
# Actions matrix, cae/.github/workflows/ci.yml:10-31; there is no runner
# here, so `make check` is the one-command local equivalent of the gate).
#
# Targets:
#   make check        pytest + oracle type audit + full strict oracle gate (sf0.01)
#   make test         Tier-1 pytest (the ROADMAP command), then perfbench's own tests
#   make oracle       full strict Spark-vs-DuckDB oracle run at sf0.01
#   make oracle-types fast DuckDB-only oracle output-type audit (no Spark)
#   make bench        headline benchmark (one JSON line, sf0.1 by default)

PY ?= python
SF_DIR ?= /root/testdata/sf0.01

.PHONY: check test oracle oracle-types bench

check: test oracle-types oracle

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
	$(PY) -m pytest perfbench -q

oracle-types:
	$(PY) tools/check_oracle.py --types-only $(SF_DIR)

oracle:
	$(PY) tools/check_oracle.py --bare $(SF_DIR)

bench:
	$(PY) bench.py
