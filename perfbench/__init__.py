"""Repository benchmark: workloads, tracing and process sampling."""
