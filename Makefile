# Developer entry points — the verify skill and the rotation policy
# reference these by name.
.PHONY: test test-ids test-order parity-sf001 parity-sf01 bench loc surface plans perf-ingest perf-query perf-catalog perf-cold perf-pairs

# The ROADMAP Tier-1 verify command, verbatim.
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# Sorted Tier-1 test ids, one a line. Removed ids between two commits are
# `comm -23 <(parent's output) <(change's output)`. Collection leaves an
# empty .benchmarks/ behind; rmdir removes it only while it is empty.
test-ids:
	@python -m pytest tests/ --collect-only -q -p no:cacheprovider | grep '::' | sort; \
	rmdir .benchmarks 2>/dev/null || true

# Tier-1 must pass in any test order: run the session-state tests before the
# plan pins, then after them, so cached state can never change a pin.
test-order:
	python -m pytest tests/test_entry_caches.py tests/test_plan_shapes.py -q -p no:cacheprovider
	python -m pytest tests/test_plan_shapes.py tests/test_entry_caches.py -q -p no:cacheprovider

# Local replica of the driver's correctness gate at the default test SF
# (all oracled entries, order-independent).
parity-sf001:
	python -m pytest tests/test_oracle_parity.py -q

# The same sweep at the DRIVER's SF — run before any commit that adds or
# changes a catalog entry (the rotation policy's "parity-green at two
# SFs" claim is this target plus parity-sf001).
parity-sf01:
	SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py -q

bench:
	python bench.py

# Line count of the package plus tests: the measure "less code" is judged by.
loc:
	@git ls-files steampipe_plugin_terraform_spark tests | grep '\.py$$' | xargs cat | wc -l

# The driver surface as labelled lines (queries() and the bench lists in
# order, ORACLES and STAGED_QUERIES sorted). A change that keeps the surface
# diffs empty against the parent's output.
surface:
	@python3 tools/surface.py

# One `<name> <sha256>` line per live and staged entry: the digest of its
# executed plan at sf0.001 on local[4], process-specific ids masked. A change
# that keeps the plans diffs empty against the parent's output.
plans:
	@python3 tools/plans.py

# Terraform ingest benchmark at one seed: end-to-end metrics untraced, then
# the per-layer split traced (see perfbench/run.py).
perf-ingest:
	python3 perfbench/run.py --workload tf_ingest --seed 7 --seconds 10 --trace 0
	python3 perfbench/run.py --workload tf_ingest --seed 7 --seconds 10 --trace 1

# Terraform query benchmark at one seed, the same way: untraced, then traced
# (per-query spark.jobs/stages/tasks, engine.wide_partitions, watch.*).
perf-query:
	python3 perfbench/run.py --workload tf_query --seed 7 --seconds 10 --trace 0
	python3 perfbench/run.py --workload tf_query --seed 7 --seconds 10 --trace 1

# Catalog benchmark at one seed, the same way: untraced, then traced
# (per-entry catalog.*_s, operators.*_s and spark.jobs/stages/tasks per pass).
perf-catalog:
	python3 perfbench/run.py --workload catalog_mix --seed 7 --seconds 10 --trace 0
	python3 perfbench/run.py --workload catalog_mix --seed 7 --seconds 10 --trace 1

# Cold start at one seed: tf_ingest untraced twice with a fresh cache
# directory. The first run unpacks and compiles the worker daemon's Python
# archives (py/) and dumps the driver JVM's class-data-sharing archive as it
# exits; the second starts from both. Each run's process wall time (dump
# included), the JVM archive's bytes and py/'s bytes print after its JSON
# lines.
perf-cold:
	@cache="$$(mktemp -d)"; trap 'rm -rf "$$cache"' EXIT; \
	for run in dump warm; do \
	  start=$$(date +%s%N); \
	  XDG_CACHE_HOME="$$cache" python3 perfbench/run.py --workload tf_ingest --seed 7 --seconds 10 --trace 0 || exit 1; \
	  echo "perf-cold $$run: process $$(( ($$(date +%s%N) - start) / 1000000 )) ms wall," \
	    "archive $$(find "$$cache" -name '*.jsa' -printf '%s') bytes," \
	    "py/ $$(du -sb "$$cache/steampipe_plugin_terraform_spark/py" | cut -f1) bytes"; \
	done

# A/B pairs of one workload: BASE (a git revision) against the working tree,
# each from a clean `git archive` copy, alternating which side runs first.
# Prints each side's median and quartiles of both end-to-end metrics and the
# change's win count. SEED (the first pair's) has no default: a claim needs
# seeds not used while writing the change, e.g.
#   make perf-pairs WORKLOAD=catalog_mix BASE=HEAD PAIRS=10 SEED=<unused seed>
WORKLOAD ?= catalog_mix
BASE ?= HEAD
PAIRS ?= 10
perf-pairs:
	@test -n "$(SEED)" || { echo "perf-pairs: set SEED=<first seed, not used while writing>" >&2; exit 2; }
	python3 tools/perf_pairs.py --workload $(WORKLOAD) --base $(BASE) --pairs $(PAIRS) --seed $(SEED)
