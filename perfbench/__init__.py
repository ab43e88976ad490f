"""OCPP pipeline benchmark: workloads, fleet generator, gates and tracing."""
