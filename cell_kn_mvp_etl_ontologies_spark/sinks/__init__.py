"""Sinks: the parquet graph store, the graph-service wire load and the
file exports.

The package re-exports nothing; import from the submodules
(``sinks.graph``, ``sinks.graph_service``, ``sinks.http_transport``,
``sinks.jsonl``, ``sinks.sharded``, ``sinks.side_outputs``,
``sinks.zorder``).  An executor worker that unpickles a transport imports
this package first, so it stays empty: importing ``sinks.http_transport``
does not pull in ``operators`` and pandas, which cost about half a second
per fresh Python worker.
"""
