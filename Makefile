# Round hygiene targets. VERDICT r7 #1: the last two rounds ended with a
# parity artifact lagging the declared query surface (q176 in r6,
# q209-q214 in r7) because the refresh was a memory-dependent chore.
# `make close-round` IS the closing procedure now: refresh the artifact
# over the full declared surface, then run the committed-evidence gate.

PY ?= python

.PHONY: close-round parity gate test bench

# Full parity refresh (every declared query vs its DuckDB twin at
# sf0.01) followed by the closing gate test, then a full sf0.1 bench
# whose per-query record lands in BENCH_LOCAL_r{N}.json (round-8
# verdict #2: the driver's stdout-tail capture truncated BENCH_r08's
# per-query dict; the in-repo artifact is the durable copy — commit
# it with the parity artifact). Run this after the LAST
# queries()/oracle_sql() declaration of the round, before the final
# commit. ~10 min.
close-round: parity gate bench

parity:
ifdef ROUND
	$(PY) parity.py --round $(ROUND)
else
	$(PY) parity.py
endif

# The committed-evidence gate: newest PARITY_r*.json must cover every
# declared query, be all hash-green, AND have been produced from the
# current source tree (freshness — r11 verdict #2: a post-parity source
# commit shipped uncovered by the committed artifact).
gate:
	SPARK_GRAFT_ENFORCE_FRESHNESS=1 $(PY) -m pytest tests/test_oracle_parity.py -q -k artifact

# The tier-1 command (ROADMAP.md): no -x, so an error (e.g. TestGolden
# without the external WikiData file) does not stop the rest of the
# suite; the timeout bounds a hang. --durations=10 only reports the
# slowest tests, so every full run shows where the time budget goes.
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
		timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider --durations=10

# ROUND pins the BENCH_LOCAL_r{N}.json name explicitly (r9 ADVICE:
# the max(CORRECTNESS_r*)+1 inference mislabels a bench run executed
# after the round's correctness artifact lands). `make close-round
# ROUND=10` is the canonical close; unset, bench.py falls back to the
# inference.
bench:
ifdef ROUND
	SPARK_GRAFT_ROUND=$(ROUND) $(PY) bench.py
else
	$(PY) bench.py
endif
