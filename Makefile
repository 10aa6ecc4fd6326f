PY ?= python

.PHONY: test test-fast parity parity-sf01 bench bench-bucketed bench-compare smoke driver-check baseline scale-study ratio plans pil-check country-scale

driver-check:
	$(PY) tools/driver_emulation.py

baseline:
	$(PY) baseline_duckdb.py

scale-study:
	$(PY) tools/scale_study.py

test:
	$(PY) -m pytest tests/ -q

test-fast:
	$(PY) -m pytest tests/test_speeds.py tests/test_geometry.py tests/test_graph_kernels.py tests/test_properties.py tests/test_frontier_kernel.py tests/test_zip_invalidation.py tests/test_tool_imports.py tests/test_argmin_kernel.py tests/test_matching.py -q

parity:
	$(PY) -m pytest tests/test_oracle_parity.py -q

parity-sf01:
	SPARK_GRAFT_PARITY_SF=/root/testdata/sf0.01 $(PY) -m pytest tests/test_oracle_parity.py -q

bench:
	$(PY) bench.py

smoke:
	$(PY) -c "import importlib.util; \
s = importlib.util.spec_from_file_location('e', '__spark_entry__.py'); \
m = importlib.util.module_from_spec(s); s.loader.exec_module(m); \
from duckdb_routing_spark.session import get_spark; \
print(m.entry(get_spark(master='local[4]', shuffle_partitions=4)).count(), 'rows')"

ratio:
	$(PY) tools/ratio.py

bench-bucketed:
	SPARK_GRAFT_BUCKETED=1 $(PY) bench.py

# round-over-round per-query regression gate: newest two BENCH_r*.json,
# fail on >15% AND >0.05s per-query drift (tools/bench_compare.py for args)
bench-compare:
	$(PY) tools/bench_compare.py

plans:
	$(PY) tools/plan_report.py

# Optional, needs network: install pillow and drive the REAL 'pil' decode
# branch of the multimodal tier end to end (the gate test flips to the
# real-codec path automatically once PIL imports). The dependency-free
# 'stdlib' decode path runs in the plain `make test` regardless.
pil-check:
	$(PY) -m pip install --quiet pillow
	$(PY) -m pytest tests/test_llm_operators.py -q -k "pil or stdlib or multimodal" tests/test_imagecodec.py -q

country-scale:
	$(PY) tools/country_scale.py --dim 1200 --pairs 50
