"""Knowledge-graph benchmark: workloads, inputs, oracle and tracing (see run.py)."""
