"""Query-surface operators: pathways (ComPath), graph (BEL), namespace."""
