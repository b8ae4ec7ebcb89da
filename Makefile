# Evidence + gates (VERDICT r5 item 6). `make check` reproduces the
# three per-round audit artifacts and fails non-zero on any
# regression; `make test` / `make bench` are the other two gates.

SF_DIR ?= /root/testdata/sf0.01

.PHONY: check test test-deep bench sync-check perfbench plan-diff

check:
	python tools/check.py $(SF_DIR)
	python -m pytest tests/ -q -m ""

# Artifact-staleness gate (VERDICT r8 item 2): committed counts must
# agree with the live registry. Also the final stage of `make check`.
sync-check:
	python tools/sync_check.py

# Plan-shape check for refactors: regenerate the registry-wide plan
# audit (~4 min) and fail if any query's physical-plan facts moved.
plan-diff:
	python tools/plan_audit.py && git diff --exit-code PLANS_audit.json

# Default tier (pytest.ini deselects the `deep` hardening tier so
# the driver's budget-bound run completes; VERDICT r13 item 2).
test:
	python -m pytest tests/ -q

# Every tier, including the hypothesis/adversarial/bruteforce/
# invariance differentials (~26 min clean host, 55 min degraded).
test-deep:
	python -m pytest tests/ -q -m ""

bench:
	python bench.py

# One benchmark run (perfbench/README.md), e.g.
# `make perfbench WORKLOAD=corpus_scan SEED=1 TRACE=1`.
WORKLOAD ?= corpus_scan
SEED ?= 1
TRACE ?= 0

perfbench:
	python3 perfbench/run.py --workload $(WORKLOAD) --seed $(SEED) --seconds 1 --trace $(TRACE)
