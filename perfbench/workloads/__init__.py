"""One module per benchmark workload; each exposes ``run(ctx) -> dict``."""
