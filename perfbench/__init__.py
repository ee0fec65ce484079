"""samba_spark benchmark: four workloads (capture, lineage, workflow,
curate) driven through the engine's public API, with correctness gates
and a traced mode that reports per-layer numbers. See README.md."""
