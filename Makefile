# Convenience targets; all knobs are env vars with the same defaults
# the driver uses.

ORACLE_SF ?= /root/testdata/sf0.01
KAFKA_BOOTSTRAP ?= localhost:9092
W ?= stream
SEED ?= 1

.PHONY: test oracle perfbench kafka-live

test:
	python -m pytest tests/ -x -q

oracle:
	python tools/check_oracle.py --sf $(ORACLE_SF)

# The pipeline benchmark (perfbench/README.md): one untraced run of
# workload W (stream or backfill_history), then the benchmark's tests.
perfbench:
	python3 perfbench/run.py --workload $(W) --seed $(SEED) --seconds 8 --trace 0
	python3 -m pytest perfbench/tests -q

# Live-broker Kafka round-trip (docs/KAFKA_RUNBOOK.md): requires a
# reachable broker AND the spark-sql-kafka connector jar.  The same
# test runs its wire-shaped seam assertions everywhere; the env var
# additionally opens the real socket.
kafka-live:
	KAFKA_BOOTSTRAP=$(KAFKA_BOOTSTRAP) python -m pytest \
	  tests/test_streaming.py::test_kafka_stream_seams_end_to_end -x -q
