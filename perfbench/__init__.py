"""Repository benchmark: seeded workloads, output checks, layer ledger."""
