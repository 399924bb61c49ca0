"""Pipeline benchmark: catalog workloads run as timed batches."""
