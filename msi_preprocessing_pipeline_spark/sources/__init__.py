"""Sources and sinks: testdata table loaders, the deterministic synthetic
sequence generator, the reference-format ASCII spectrum reader and bucketed
tables."""
