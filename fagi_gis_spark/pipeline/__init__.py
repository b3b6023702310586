"""Pipeline plumbing: per-partition lineage, idempotent resume, and the
end-to-end runner."""
