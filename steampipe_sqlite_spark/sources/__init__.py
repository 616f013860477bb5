"""Half A of the engine: the connector bridge (SURVEY.md §0).

The reference is a SQLite virtual-table bridge over live plugin data; this
package is the same bridge re-expressed on Spark's Python Data Source API:

- connector.py  — connector protocol (schema/key-columns/quals/limit/config),
                  the analog of the steampipe-plugin-sdk proto surface, and
                  the row/page-to-Arrow helpers; rows_to_batches is the one
                  advisory-pushdown loop (quals, limit) of row producers.
- datasource.py — generic PySpark DataSource turning any connector table
                  into a Spark table with filter pushdown + Arrow reads.
- config.py     — connection-config parsing (JSON or HCL) and the engine's
                  own connection options (cache, retry, throttle).
- cache.py      — TTL result cache (reference cache.go / register.go:15-19).
- ratelimit.py  — host-wide token bucket behind Connector.throttle.
- chaos.py      — deterministic test connectors (analog of the chaos plugin
                  the reference CI builds, .github/workflows/test.yml:38-44).
- csvfiles.py   — CSV files as dynamic-schema tables (steampipe-plugin-csv).
- jsonlines.py  — JSON-lines files, the CSV connector's sibling.
- pagedhttp.py  — synthetic paged cloud API: page tokens, per-page latency,
                  throttling and 429s.
"""
