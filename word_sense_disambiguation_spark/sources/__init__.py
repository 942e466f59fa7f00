"""Table sources: pages-table constructors."""
