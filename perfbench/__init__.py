"""Benchmark for the rollup cascade and the driver queries; see README.md."""
