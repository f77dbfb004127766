.PHONY: test bench scaling dist clean

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

scaling:
	python bench/scaling.py

dist:
	mkdir -p dist
	rm -f dist/readembedability_spark.zip
	cd . && zip -qr dist/readembedability_spark.zip readembedability_spark \
		-x '*__pycache__*'

clean:
	rm -rf dist .bench_cache .pytest_cache
	find . -name __pycache__ -type d -exec rm -rf {} +
