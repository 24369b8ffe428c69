.PHONY: test benchtest gate audit bench all

test:
	python -m pytest tests/ -q --durations=25

benchtest:
	python -m pytest perfbench/tests -q

gate:
	SPARK_GRAFT_CPUS=8 SPARK_GRAFT_DRIVER_MEM=2g python tools/oracle_check.py

audit:
	python tools/plan_audit.py

bench:
	python bench.py

all: test benchtest gate audit bench
