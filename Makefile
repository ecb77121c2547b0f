.PHONY: test dist bench scaling clean

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

clean:
	rm -rf dist .pytest_cache
	find . -name __pycache__ -type d -exec rm -rf {} +
