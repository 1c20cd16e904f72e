.PHONY: check-fast test test-codecs test-connector bench install-hooks

# Pure-Python guardrails (~2 s, no Spark): registry/COVERAGE.md sync
# and the driver 50-name lexical-window invariant. Run before EVERY
# commit that touches registry.py, COVERAGE.md, or adds a query —
# round 6's snapshot commit skipped these and shipped 2 red tests.
# A test rename breaks this target loudly (pinned node id) — that is
# deliberate; fix the pin rather than dropping the guard.
check-fast:
	python -m pytest tests/test_coverage_sync.py tests/test_coverage_index.py \
	  "tests/test_properties.py::test_driver_window_holds_exactly_50_unprefixed_names" \
	  -q

test:
	python -m pytest tests/ -x -q

# The codec/feature family (c05_*, c54, c55, c76, c122, and s32 which shares
# c05_audio_features' row function) in minutes instead of
# the ~20-minute tier-1 run: oracle parity for the family, the codec
# unit tests, the _map_rows equivalence test and the plan gate that
# pins which codec entries re-widen their scan.
CODEC_LLM_TESTS = bmp or wav or png or jpeg or flac or avi or gif or audio \
	or image or tiff or mpeg or compressed or codec
test-codecs:
	python -m pytest -q tests/test_map_rows.py \
	  "tests/test_plans.py::test_codec_entries_numbered_repartition_exactly_the_cpu_heavy_set" \
	  tests/test_oracle_parity.py -k "c05_ or c54_ or c55_ or c76_ or c122_ or s32_ or map_rows or numbered_repartition"
	python -m pytest -q tests/test_llm.py -k "$(CODEC_LLM_TESTS)"

# The connector (sources/dynamo.py, keyed_store.py): the source tests,
# the writer's merge property tests and the a-family oracle parity
# (a04_ ... a26_, incl. the a05 GSI and a09 binary-key reads).
CONNECTOR_ORACLES = a04_ or a05_ or a06_ or a07_ or a09_ or a11_ or a12_ \
	or a13_ or a14_ or a18_ or a19_ or a22_ or a23_ or a24_ or a25_ or a26_
test-connector:
	python -m pytest -q tests/test_dynamo_source.py
	python -m pytest -q tests/test_properties.py -k merge
	python -m pytest -q tests/test_oracle_parity.py -k "$(CONNECTOR_ORACLES)"

bench:
	python bench.py

# One-command re-install of the versioned git hooks after a fresh
# clone (hooks in .git/ don't travel with the repo).
install-hooks:
	git config core.hooksPath scripts/hooks

# Scale-stress recipe (PLANS.md amplification tables): build the 10x
# fixture once, then time queries at sf0.1 vs 10x. Usage:
#   make stress NAMES="c102_kmv_sketch_rollup c107_countmin_heavy_hitters"
# 100x docs-only variant (the adversarial 100-replica-clique corpus):
#   make stress-100x NAMES="..."
.scratch/sf_amp8:
	python scripts/amplify_sf.py

.scratch/sf_amp100:
	python scripts/amplify_sf.py --replicas 100 --docs-only --out .scratch/sf_amp100

stress: .scratch/sf_amp8
	python scripts/scale_stress.py $(NAMES)

stress-100x: .scratch/sf_amp100
	SPARK_GRAFT_AMP_FACTOR=100 python scripts/scale_stress.py $(NAMES) \
	  --amp .scratch/sf_amp100 --runs 1
