"""kgpipe benchmark: workloads, output checks and per-layer tracing."""
