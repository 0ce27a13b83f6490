"""The repository benchmark: seeded chat and batch workloads driven
through the package's public functions (see ``perfbench/README.md``)."""
