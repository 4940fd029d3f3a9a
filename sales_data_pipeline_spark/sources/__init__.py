"""Source connectors: contract CSV and partitioned JDBC."""
