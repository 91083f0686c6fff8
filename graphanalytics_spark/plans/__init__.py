"""Run-plan infrastructure: the superstep loop, lineage truncation,
checkpoint/resume and skew spreading."""
