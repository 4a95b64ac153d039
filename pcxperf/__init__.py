"""pcx benchmark: end-to-end workloads and a traced per-layer run."""
