"""The repository benchmark (see BENCHMARK.json and perfbench/layers.json)."""
