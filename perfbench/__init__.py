"""Benchmark for the clickhouse_k_means_spark package; see BENCHMARK.md."""
