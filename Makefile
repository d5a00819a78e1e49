# Round-close artifact refresh (PARITY/PLANS/QUERIES.md/bench) in one
# command — see tools/close_round.py.
#   make close-round ROUND=8
ROUND ?= 0
SF ?= sf0.01

.PHONY: close-round test bench-test ab
close-round:
	python tools/close_round.py $(ROUND) --sf $(SF)

# the tier-1 command of ROADMAP.md, verbatim
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# the benchmark's own tests (perfbench/README.md)
bench-test:
	python3 -m pytest perfbench/test_perfbench.py -q

# alternating perfbench pairs, git ref BASE against the working tree
# (tools/ab_perfbench.py)
#   make ab BASE=HEAD~1 WORKLOAD=nested_ingest SEEDS=501-510
BASE ?= HEAD
WORKLOAD ?= nested_ingest
SEEDS ?= 501-510
ab:
	python3 tools/ab_perfbench.py --base $(BASE) --workload $(WORKLOAD) --seeds $(SEEDS)
