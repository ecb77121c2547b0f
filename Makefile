.PHONY: test dist bench scaling kg-hashes clean

# the Tier-1 gate (ROADMAP.md), as one command
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
	SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 python -m pytest tests/ -q \
		--continue-on-collection-errors -p no:cacheprovider

# package for spark-submit --py-files
dist:
	mkdir -p dist
	cd . && zip -qr dist/clip_retrieval_spark.zip clip_retrieval_spark \
		-x '*__pycache__*'
	@echo dist/clip_retrieval_spark.zip

bench:
	python bench.py

scaling:
	python jobs/bench_scaling.py

# one build_open_vocab run per seed pinned in kgbench/expected_hashes.json
# (~30 s a seed); fails unless every seed's nodes/edges/links match its pin
kg-hashes:
	@fail=0; \
	for s in $$(python3 -c 'import json; print(*sorted(json.load(open( \
		"kgbench/expected_hashes.json")), key=int))'); do \
		out=$$(python3 kgbench/run.py --workload build_open_vocab \
			--seed $$s --seconds 1 --trace 0 2>/dev/null); \
		if echo "$$out" | grep -q \
			"^kgbench check ok   nodes/edges/links match"; then \
			echo "kg-hashes seed $$s: pass"; \
		else \
			echo "kg-hashes seed $$s: FAIL"; fail=1; \
		fi; \
	done; \
	exit $$fail

clean:
	rm -rf dist .pytest_cache
	find . -name __pycache__ -type d -exec rm -rf {} +
