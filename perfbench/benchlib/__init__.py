"""Python side of the benchmark: inputs, statistics and the oracle check."""
