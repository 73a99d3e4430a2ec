package com.example.entites

interface Person {
    fun getName(): String
}

class User(private val name: String) : Person {
    override fun getName(): String = name
}

class Admin(private val name: String, val level: Int) : Person {
    override fun getName(): String {
        return "admin:$name"
    }
}
