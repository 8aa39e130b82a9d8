# Developer entry points. The sandbox has no Docker; targets that need it
# say so and are safe to run anywhere Docker exists.

.PHONY: test tier1 bench pg-live parity ab

test:
	python -m pytest tests/ -q

# The tier-1 gate exactly as ROADMAP.md states it: Spark sized to the
# visible cores, local scratch under /tmp, a hard timeout, no pytest cache
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

# Full oracle-parity sweep of every registry entry vs DuckDB at sf0.001
parity:
	python scripts/check_parity.py

# Interleaved parent/change benchmark pairs with a verdict per metric:
#   make ab PARENT=../parent-checkout [CHANGE=.] [WORKLOADS="corpus_dedup"] [SEEDS=1-10]
CHANGE ?= .
SEEDS ?= 1-10
ab:
	python3 scripts/ab_pairs.py --parent "$(PARENT)" --change "$(CHANGE)" \
		--seeds "$(SEEDS)" $(if $(WORKLOADS),--workloads $(WORKLOADS))

# Live TimescaleDB(+PostGIS) matrix — the reference's container tests
# (reference tests/pytest/test_databases.py) re-expressed for this engine.
# Needs Docker + network (first run fetches the Postgres JDBC driver).
# In the sandbox the underlying tests skip; this target makes them
# runnable with one command anywhere else.
pg-live:
	bash scripts/pg_live.sh
