.PHONY: test verify bench perfbench

test:
	python -m pytest tests/ -q

# Full pre-submit gate: unit/property tests + every registered query vs
# its DuckDB oracle through the driver-faithful comparison path.
verify: test
	python tools/verify_queries.py

bench:
	python bench.py

# The seeded benchmark (BENCHMARK.json): its self-tests, then one
# untraced csv_etl run. Prints the result JSON as the last line.
perfbench:
	python3 -m pytest perfbench/ -q
	python3 perfbench/run.py --workload csv_etl --seed 1 --seconds 28 --trace 0
